"""Graph primitives over DataFrame edge lists.

Clustering and components (``connected_components``,
``label_propagation``, ``k_core``, ``spectral_bisection``), ranking
(``pagerank``, ``personalized_pagerank``), traversal
(``multi_source_bfs``, ``sssp_bounded``, ``deterministic_walks``),
spanning forests (``boruvka_msf``) and the wedge orientations that
triangle-style queries start from (``degree_oriented_edges``,
``oriented_edges_adaptive``). Every result is deterministic so a
DuckDB oracle can replay it.

The iterative loops share three rules, implemented once by the private
helpers below:

- **Pin.** A loop reads its edge-sized relation every round, so it is
  hash-partitioned ONCE by the key the rounds join or group on and
  pinned with an eager ``localCheckpoint`` (``_pin``; ``_undirected``
  for the distinct symmetric arcs). LogicalRDD keeps that partitioning,
  so a round shuffles only node-sized state, never the edges. Per-round
  state is checkpointed too: a per-round driver action on a lazy chain
  would re-execute the whole history each pass.
- **Gate.** At most ``_STATE_BCAST_MAX`` state rows, the state ships
  BROADCAST (``_bcast``): joins against the pinned edges are narrow,
  and edges pinned by the per-round GROUP key make the aggregate
  exchange-free. Above the gate (10^8-10^9-node graphs) the state must
  not reach the driver; it shuffles to the edges, which are then
  pinned by the JOIN key instead. The constant is read at call time,
  so tests can force either regime.
- **Release.** A staging copy superseded by a re-pin is released
  before the loop starts (``unpersist`` for a ``persist``, ``_release``
  for a checkpoint), so at most one edge-sized relation stays resident
  through the loop, and no operator leaves anything in the cache
  manager.

Small graphs skip the loops where an exact driver algorithm exists:
union-find for components and a Kruskal finish for spanning forests,
under a heap-scaled edge gate (``driver_gate_threshold``). That is the
standard hybrid (GraphFrames, GBBS): a 20-round distributed loop on 1k
edges is pure scheduler overhead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

# State rows shipped broadcast: ~4M (long, long) rows ≈ 64 MB framed,
# well under executor memory.
_STATE_BCAST_MAX = 4_000_000


def _pin(df: DataFrame, key: str) -> DataFrame:
    """``df`` hash-partitioned by ``key`` and materialized."""
    n_shuffle = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(n_shuffle, key).localCheckpoint(eager=True)


def _release(pinned: DataFrame) -> None:
    """Drop a ``localCheckpoint``'s blocks now instead of whenever the
    JVM collects its RDD. The blocks are the only copy: nothing may read
    ``pinned`` afterwards."""
    pinned._jdf.queryExecution().analyzed().rdd().unpersist(False)


def _repin(pinned: DataFrame, key: str) -> DataFrame:
    """``_pin`` by ``key``, releasing the copy it supersedes."""
    out = _pin(pinned, key)
    _release(pinned)
    return out


def _undirected(edges: DataFrame, a: str, b: str) -> DataFrame:
    """Distinct symmetric arcs (s, d) of the undirected edges (a, b),
    pinned by ``s``."""
    e = edges.select(F.col(a).alias("s"), F.col(b).alias("d"))
    return _pin(
        e.union(e.select(F.col("d").alias("s"), F.col("s").alias("d"))).distinct(),
        "s",
    )


def _bcast(df: DataFrame, on: bool) -> DataFrame:
    return F.broadcast(df) if on else df


def _driver_union_find(edges: DataFrame) -> DataFrame:
    """Union-find over a collected edge list; returns (node, component)
    with component = min node id of the set (path-halving + union-by
    -min keeps it one pass over the edges)."""
    parent: dict = {}

    def find(a):
        root = a
        while parent[root] != root:
            root = parent[root]
        while parent[a] != root:  # path compression
            parent[a], a = root, parent[a]
        return root

    for s, d in edges.collect():
        if s not in parent:
            parent[s] = s
        if d not in parent:
            parent[d] = d
        ra, rb = find(s), find(d)
        if ra != rb:  # union by min label so roots ARE the component ids
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra

    node_type = edges.schema.fields[0].dataType
    schema = T.StructType(
        [
            T.StructField("node", node_type, False),
            T.StructField("component", node_type, False),
        ]
    )
    rows = [(n, find(n)) for n in parent]
    return edges.sparkSession.createDataFrame(rows, schema)


def driver_collect_cap(
    driver_memory: str,
    budget_fraction: float,
    bytes_per_item: int,
    floor: int = 10_000,
) -> int:
    """Max items a driver-side ``.collect()`` may materialize, derived
    from the configured driver memory instead of a hard constant: spend
    at most ``budget_fraction`` of the heap, at ~``bytes_per_item`` per
    collected item (measured order-of-magnitude, Row overhead
    included). Shared by the union-find edge gate and the
    benchmark-side collect in semantic decontamination.

    Parsing mirrors Spark's ``byteStringAs``: a trailing 'b' AFTER a
    unit letter is optional ('8g' == '8gb'), a LONE trailing 'b' means
    BYTES ('1048576b' = 1 MiB, exactly as the JVM parses it), and a
    SUFFIXLESS value is MiB (the JVM reads 'spark.driver.memory=2048'
    as 2048 MiB, not bytes). An unparseable string falls back to the
    ``floor`` — a config-format surprise must degrade the gate, not
    crash the caller."""
    s = driver_memory.strip().lower()
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    try:
        if len(s) >= 2 and s[-1] == "b" and s[-2] in units:
            mem_bytes = int(float(s[:-2])) * units[s[-2]]
        elif s.endswith("b"):
            mem_bytes = int(float(s[:-1]))  # bare 'b' suffix = bytes
        elif s and s[-1] in units:
            mem_bytes = int(float(s[:-1])) * units[s[-1]]
        else:
            mem_bytes = int(float(s)) << 20  # suffixless = MiB
    except ValueError:
        return floor
    return max(int(mem_bytes * budget_fraction) // bytes_per_item, floor)


def driver_gate_threshold(
    driver_memory: str, budget_fraction: float = 0.05, bytes_per_edge: int = 200
) -> int:
    """Max edge count the driver union-find may collect (see
    ``driver_collect_cap``): ~``bytes_per_edge`` per collected edge
    (Row + two dict entries, measured order). An 8g driver gates near
    the old 2M constant; a 512m driver forces the distributed path
    around 130k edges rather than OOMing."""
    return driver_collect_cap(driver_memory, budget_fraction, bytes_per_edge)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
    driver_threshold: int | None = None,
) -> DataFrame:
    """(node, component) for every node in ``edges``; component is the
    minimum node id reachable. Edges are treated as undirected. This is
    the last stage of corpus dedup: near-dup PAIRS become CLUSTERS so
    one canonical doc per cluster survives.

    ``driver_threshold`` (the edge count below which the exact driver
    union-find runs instead of the iterative distributed path) defaults
    to a driver-memory-scaled bound — a small-heap deployment falls
    through to the distributed path instead of collecting edges it
    cannot hold.

    The distributed path is min-label propagation with POINTER JUMPING:
    each round a node takes the min of (its label, its neighbors'
    labels, its label's label). The jump halves pointer-path lengths,
    so convergence takes O(log diameter) rounds instead of
    O(diameter) — at 10⁹ nodes with chain-shaped boilerplate clusters
    that is ~30 rounds, not ~1000. Convergence is one tiny aggregate
    per round: the label sum is monotone non-increasing, so the
    fixpoint is an unchanged sum. Below the gate the arcs stay pinned
    by ``s``, the neighbor-min groupBy key, and the only per-round
    exchange is the node-sized union groupBy."""
    if driver_threshold is None:
        driver_threshold = driver_gate_threshold(
            edges.sparkSession.conf.get("spark.driver.memory", "1g")
        )
    # Materialize the (possibly expensive) upstream edge plan ONCE —
    # the count and the self-union would otherwise execute it twice.
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d")).localCheckpoint(
        eager=True
    )
    if e.count() <= driver_threshold:
        return _driver_union_find(e)

    both = _undirected(e, "s", "d")
    _release(e)
    # Exchange-free on the s-partitioned checkpoint.
    labels = (
        both.select(F.col("s").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint(eager=True)
    )
    bcast = labels.count() <= _STATE_BCAST_MAX
    if not bcast:
        both = _repin(both, "d")

    prev_sum = None
    for _ in range(max_iter):
        # neighbor min: node <- min(component over neighbors)
        nbr = both.join(
            _bcast(labels.withColumnRenamed("node", "d2"), bcast),
            F.col("d") == F.col("d2"),
        ).select(F.col("s").alias("node"), "component")
        # pointer jump: node <- component(component(node))
        l2 = labels.select(
            F.col("node").alias("c_node"), F.col("component").alias("c_comp")
        )
        jump = labels.join(
            _bcast(l2, bcast), F.col("component") == F.col("c_node")
        ).select("node", F.col("c_comp").alias("component"))
        labels = (
            labels.union(nbr)
            .union(jump)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
            .localCheckpoint(eager=True)
        )
        cur_sum = labels.agg(F.sum("component")).head()[0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels


def degree_oriented_edges(
    edges: DataFrame, a: str = "a", b: str = "b"
) -> DataFrame:
    """Re-orient an undirected edge list (one row per edge, any endpoint
    order) so each edge points from its lower-(degree, id) endpoint to
    the higher: output columns (u, v) with rank(u) < rank(v).

    This is the standard power-law guard for wedge-based algorithms
    (triangle counting, clustering coefficient): a total order by DEGREE
    puts hubs on the high-rank side, so every vertex's out-degree is
    bounded by O(√m) (arboricity argument) and wedge generation through
    any middle vertex stays in(v)·out(v) instead of deg(v)² — raw-id
    orientation leaves a low-id hub with a quadratic wedge set. Cost:
    one vertex-sized degree aggregate plus two hash joins keyed on the
    edge endpoints."""
    deg = (
        edges.select(F.col(a).alias("node"))
        .unionAll(edges.select(F.col(b).alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    da = deg.select(F.col("node").alias(a), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias(b), F.col("deg").alias("deg_b"))
    a_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col(a) < F.col(b))
    )
    return (
        edges.join(da, a)
        .join(db, b)
        .select(
            F.when(a_first, F.col(a)).otherwise(F.col(b)).alias("u"),
            F.when(a_first, F.col(b)).otherwise(F.col(a)).alias("v"),
        )
    )


def oriented_edges_adaptive(
    edges: DataFrame, a: str = "a", b: str = "b", hub_factor: int = 16
) -> tuple[DataFrame, int, int]:
    """Orient an a<b edge list for wedge algorithms, picking the
    strategy from a measured degree statistic (AQE-style runtime
    planning, one tiny aggregate over the vertex-sized degree table):

    * ``max_deg² ≤ hub_factor · m`` proves even the worst hub's wedge
      set is O(m) under ANY orientation — use the ids as-is (zero extra
      joins; this is the common case for near-uniform graphs like
      co-purchase over a catalog).
    * Otherwise a hub exists whose raw-id wedge set could go quadratic —
      pay the two degree joins of :func:`degree_oriented_edges` for the
      O(√m) arboricity out-degree bound.

    Both orientations count each triangle exactly once, so downstream
    results are identical; only the join cost differs. A same-window A/B
    at sf0.1 measured the unconditional degree path ~30-40 % slower than
    id orientation on the (uniform) co-purchase graph — skew protection
    should cost (nearly) nothing when the data isn't skewed.

    Returns ``(oriented_df, m, dmax)`` so callers can reuse the edge
    count from the statistics job instead of running a second one."""
    stats = (
        edges.select(F.explode(F.array(F.col(a), F.col(b))).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
        .agg(F.max("deg").alias("dmax"), F.sum("deg").alias("deg_sum"))
        .head()
    )
    dmax = stats["dmax"] or 0
    m = (stats["deg_sum"] or 0) // 2
    if dmax * dmax <= hub_factor * max(m, 1):
        return edges.select(F.col(a).alias("u"), F.col(b).alias("v")), m, dmax
    return degree_oriented_edges(edges, a, b), m, dmax


def _weighted_edges(
    edges: DataFrame, src: str, dst: str, pre_deduped: bool, symmetric: bool
) -> tuple:
    """The shared pagerank/PPR setup: ``(e_w, nodes, dang_nodes, n_dang,
    n, bcast)``. ``e_w`` is the distinct (s, d, out_deg) edge list,
    pinned by ``d`` below the gate (the per-iteration contribution
    groupBy key, so each aggregate runs exchange-free; isolated A/B at
    sf0.1 for PPR: 7.4 -> 5.9 s) and checkpointed in the window's own
    hash(s) layout above it, where the rank state shuffles to the
    edges. ``nodes`` is the node relation, ``dang_nodes`` the nodes
    without out-edges (None and 0 for ``symmetric`` graphs: the
    per-iteration dangling aggregate is skipped outright), and
    ``bcast`` the gate decision on the node count ``n``."""
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    if not pre_deduped:
        e = e.distinct()
    # Fold the out-degree into the edge list with a keyed window instead
    # of a separate aggregate + join: ONE shuffle of the edge relation
    # (the agg+join shape shuffled the edge list twice and checkpointed
    # it twice — measured ~40% of the 10x-scale cost).
    staged = e.withColumn(
        "out_deg", F.count(F.lit(1)).over(Window.partitionBy("s"))
    ).persist()
    # deg reads off the window's preserved hash(s) partitioning — no
    # exchange.
    deg = staged.groupBy("s").agg(F.first("out_deg").alias("out_deg"))
    if symmetric:
        # every node appears as a source, so the degree aggregate's key
        # set IS the node relation — no union+distinct over endpoints
        nodes = deg.select(F.col("s").alias("node")).localCheckpoint(eager=True)
        dang_nodes, n_dang = None, 0
    else:
        nodes = (
            staged.select(F.col("s").alias("node"))
            .union(staged.select(F.col("d").alias("node")))
            .distinct()
            .localCheckpoint(eager=True)
        )
        dang_nodes = nodes.join(
            deg, nodes["node"] == deg["s"], "left_anti"
        ).localCheckpoint(eager=True)
        n_dang = dang_nodes.count()
    n = nodes.count()
    bcast = n <= _STATE_BCAST_MAX
    e_w = _pin(staged, "d") if bcast else staged.localCheckpoint(eager=True)
    staged.unpersist()
    return e_w, nodes, dang_nodes, n_dang, n, bcast


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    max_iter: int = 15,
    tol: float = 1e-6,
    pre_deduped: bool = False,
    symmetric: bool = False,
) -> DataFrame:
    """(node, rank) by power iteration over a DIRECTED edge list;
    dangling nodes (no out-edges) redistribute uniformly, so ranks sum
    to 1 every iteration.

    Distributed shape per iteration: ONE shuffle — contributions =
    degree-weighted edges ⋈ sparse ranks grouped by destination. Rank
    state is held SPARSELY as (inflow-node rows, scalar ``base``):
    every node without inflow has exactly rank == base, so the
    per-iteration ``nodes ⋈ contribs`` densification join is deleted
    and the edge join takes ``coalesce(rank, base)`` instead — bit-for-
    bit the same numbers (``base + damping·0.0 == base`` in IEEE), one
    less shuffle and a smaller checkpoint per pass. Below the gate the
    broadcast rank join measured ~2x on the bench graph (1.2M edges /
    21k nodes).

    With ``tol=0`` on a graph with no dangling nodes there are NO
    driver actions inside the loop — every ``sparse_k`` is consumed
    exactly once by iteration k+1, the DAG is a linear chain, and ONE
    final job runs all iterations back-to-back (chained shuffles,
    AQE-coalesced) with nothing recomputed. That path skips the
    per-iteration eager checkpoints (each one is a full Spark job) and
    only checkpoints every 8th iteration to bound logical-plan depth
    for large budgets — measured ~2x faster at a 10-iteration budget.

    Caller contracts (both default off):
    * ``pre_deduped=True`` — the edge list is already distinct; skips an
      edge-sized dedup shuffle.
    * ``symmetric=True`` — every node has at least one out-edge (e.g. the
      edge list contains both directions of an undirected graph); the
      node relation is then exactly the distinct sources and the
      dangling machinery is skipped entirely.

    Float note: ranks are shuffle-order-dependent in the last ulps —
    callers compare with tolerance or on rounded integers with measured
    half-boundary margins (see graph_pagerank_part_supplier).
    """
    e_w, nodes, dang_nodes, n_dang, n, bcast = _weighted_edges(
        edges, src, dst, pre_deduped, symmetric
    )

    def densify(sparse, base):
        """Materialize full (node, rank): absent nodes have rank==base
        exactly (base + damping·0.0 is bit-identical to base)."""
        if sparse is None:
            return nodes.withColumn("rank", F.lit(base))
        return nodes.join(sparse, "node", "left").select(
            "node", F.coalesce("rank", F.lit(base)).alias("rank")
        )

    # Sparse rank state: (rows for inflow nodes only, scalar base).
    per_iter_actions = bool(n_dang) or tol > 0
    sparse, base = None, 1.0 / n
    prev_dense = None
    for it in range(max_iter):
        if n_dang:
            if sparse is None:
                dangling = n_dang * base
            else:
                dangling = (
                    dang_nodes.join(sparse, "node", "left")
                    .agg(
                        F.coalesce(
                            F.sum(F.coalesce("rank", F.lit(base))), F.lit(0.0)
                        )
                    )
                    .head()[0]
                )
        else:
            dangling = 0.0
        src_rank = (
            F.lit(base)
            if sparse is None
            else F.coalesce(F.col("rank"), F.lit(base))
        )
        if sparse is None:
            joined = e_w
        else:
            rk = _bcast(sparse, bcast)
            joined = e_w.join(rk, e_w["s"] == rk["node"], "left")
        contribs = (
            joined.select(
                F.col("d").alias("node"), (src_rank / F.col("out_deg")).alias("c")
            )
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"))
        )
        new_base = (1.0 - damping) / n + damping * dangling / n
        new_sparse = contribs.select(
            "node",
            (F.lit(new_base) + F.lit(damping) * F.coalesce("inflow", F.lit(0.0)))
            .alias("rank"),
        )
        if per_iter_actions or (it + 1) % 8 == 0:
            new_sparse = new_sparse.localCheckpoint(eager=True)
        if tol > 0:
            # densified L1-delta check: one extra |V|-row join-agg job
            # per iteration; fixed-budget callers pass tol=0 to skip it
            if prev_dense is None:
                prev_dense = densify(sparse, base).localCheckpoint(eager=True)
            new_dense = densify(new_sparse, new_base).localCheckpoint(eager=True)
            delta = (
                prev_dense.withColumnRenamed("rank", "old")
                .join(new_dense, "node")
                .agg(F.sum(F.abs(F.col("rank") - F.col("old"))))
                .head()[0]
            )
            sparse, base, prev_dense = new_sparse, new_base, new_dense
            if delta is not None and delta < tol:
                break
        else:
            sparse, base = new_sparse, new_base
    return densify(sparse, base)


def personalized_pagerank(
    edges: DataFrame,
    restart_node: int,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    max_iter: int = 10,
    pre_deduped: bool = False,
    symmetric: bool = False,
) -> DataFrame:
    """(node, rank) personalized PageRank: the teleport distribution is
    the single ``restart_node`` instead of uniform — the random-walk
    neighborhood score used for item-item recommendation and local
    graph similarity. r_{k+1} = (1-d)·e_seed + d·(Pᵀ r_k + dangling),
    with dangling mass teleporting to the seed (the standard PPR
    convention); r_0 = e_seed.

    Scale shape mirrors ``pagerank`` (window-folded degrees, broadcast
    rank state under the node-count gate, lazy linear chain when no
    per-iteration driver action) with one structural difference PPR
    makes possible: the rank state is SPARSE IN SUPPORT — rank is
    exactly 0 outside the seed's k-hop ball, absent rows mean 0.0, and
    exact-zero rows are filtered out of the state each pass (the left
    join would otherwise emit a 0.0 row per inflow node), so the
    broadcast hash table holds only the frontier in early
    iterations. Teleport-to-seed is one added term in the same select
    (x + 0.0 == x keeps absent rows exact). Fixed budget, no tol:
    callers compare on rounded integers like
    graph_pagerank_part_supplier.

    Seed-presence rule: the seed's teleport mass must feed the next
    pass even when the seed has no inflow and is therefore ABSENT from
    the sparse state — but any per-iteration union (marker row into
    the contribution relation, or even a 1-row union on the broadcast
    side) measured ~2x loop cost by breaking the chained stages'
    codegen. Instead the JOIN supplies the missing value: a left join
    whose source rank falls back to ``coalesce(rank, seed? fallback :
    0.0)``, where fallback = the exact rank the absent seed row would
    have held (seed_term + d·0.0 ≡ seed_term bit-for-bit, since
    x + 0.0 == x for the nonnegative ranks). Zero extra operators per
    iteration; the densify applies the same fallback."""
    e_w, nodes, dang_nodes, n_dang, _, bcast = _weighted_edges(
        edges, src, dst, pre_deduped, symmetric
    )
    seed_mass = 1.0 - damping  # same float order as the oracle's 1.0-0.85
    sparse = edges.sparkSession.createDataFrame(
        [(int(restart_node), 1.0)], "node bigint, rank double"
    )
    # rank the seed holds when absent from the sparse state (no inflow)
    seed_fallback = 1.0
    for it in range(max_iter):
        if n_dang:
            dangling = (
                dang_nodes.join(sparse, "node", "inner")
                .agg(F.coalesce(F.sum("rank"), F.lit(0.0)))
                .head()[0]
            )
        else:
            dangling = 0.0
        rk = _bcast(sparse, bcast)
        src_rank = F.coalesce(
            F.col("rank"),
            F.when(F.col("s") == restart_node, F.lit(seed_fallback)).otherwise(
                F.lit(0.0)
            ),
        )
        contribs = (
            e_w.join(rk, e_w["s"] == rk["node"], "left")
            .select(
                F.col("d").alias("node"),
                (src_rank / F.col("out_deg")).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"))
        )
        seed_const = seed_mass + damping * dangling
        seed_term = (
            F.when(F.col("node") == restart_node, F.lit(seed_const))
            .otherwise(F.lit(0.0))
        )
        # drop exact-zero rows so the sparse state really is the
        # frontier (the LEFT join above emits a 0.0 row for every
        # inflow node otherwise): absent means 0.0, a 0.0 source adds
        # 0.0 to nonnegative inflow sums (x + 0.0 == x bit-for-bit),
        # and the seed's own row can never be 0 (rank >= seed_mass) —
        # the absent-seed case is the coalesce fallback's job
        new_sparse = contribs.select(
            "node",
            (seed_term + F.lit(damping) * F.coalesce("inflow", F.lit(0.0)))
            .alias("rank"),
        ).filter(F.col("rank") != 0.0)
        seed_fallback = seed_const  # seed_term + d·0.0 == seed_term exactly
        if n_dang or (it + 1) % 8 == 0:
            new_sparse = new_sparse.localCheckpoint(eager=True)
        sparse = new_sparse
    return nodes.join(sparse, "node", "left").select(
        "node",
        F.coalesce(
            "rank",
            F.when(F.col("node") == restart_node, F.lit(seed_fallback))
            .otherwise(F.lit(0.0)),
        ).alias("rank"),
    )


def label_propagation(
    edges: DataFrame,
    rounds: int = 4,
    a_col: str = "a",
    b_col: str = "b",
) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007, public
    method) over an undirected edge list, made DETERMINISTIC: every
    node starts labeled with itself; each round every node adopts its
    neighbors' most frequent label, ties broken toward the SMALLEST
    label (classic LPA breaks ties randomly — useless for a
    reproducible pipeline). Fixed ``rounds`` sync updates rather than
    convergence detection keeps the plan finite and the result
    bit-stable. Returns (node, label).

    Scale shape: one shuffle per round (the neighbor-label count on
    node), counts bounded by edge count; the per-node argmax is a
    window over each node's neighbor-label histogram — partitioned by
    node, never global; state is one (node, label) row per node.

    A broadcast-label two-regime variant (src-pinned arcs + broadcast
    state, the k_core/connected_components r14 layout) was A/B'd and
    REJECTED (interleaved min-of-3 at sf0.1: 2.9 s shuffle vs 3.2 s
    broadcast): the count groupBy is already map-side-combined to
    histogram-sized rows, so the broadcast only replaced the
    node-sized state exchange while paying a per-round broadcast
    build — the gate wins only where it removes edge-EXPANSION-sized
    exchanges (see OPTIMIZATION_r14.md)."""
    sym = edges.select(
        F.col(a_col).alias("src"), F.col(b_col).alias("dst")
    ).unionByName(
        edges.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
    )
    sym = _pin(sym, "dst")
    labels = sym.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    w = Window.partitionBy("node").orderBy(F.desc("c"), F.asc("nbl"))
    for _ in range(rounds):
        counts = (
            sym.join(labels, sym["dst"] == labels["node"])
            .select(F.col("src").alias("node"), F.col("label").alias("nbl"))
            .groupBy("node", "nbl")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        labels = (
            counts.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", F.col("nbl").alias("label"))
            .localCheckpoint()
        )
    return labels


def k_core(
    edges: DataFrame,
    k: int,
    a: str = "a",
    b: str = "b",
    max_rounds: int = 12,
) -> DataFrame:
    """(node, core_degree) — the k-core: the maximal subgraph where
    every node keeps >= k neighbors INSIDE the subgraph, by the
    classic peel (drop under-degree nodes, recompute, repeat to
    fixpoint). Cores are the density skeleton community and
    robustness analyses start from.

    Convergence is detected by node-count equality (the alive set
    only shrinks, so equal counts == equal sets — one cheap scalar
    per round, no set diff). Exceeding ``max_rounds`` raises: callers
    with an unrolled cross-engine oracle must know the fixpoint fits
    the oracle's round budget rather than silently diverge from it.

    Scale shape: one degree aggregate per round over the alive set,
    broadcast into both degree joins below the gate, where the
    s-pinned arcs make the round exchange-free. Above it the arcs are
    re-pinned by ``d`` and the joins run d-first, so the only
    edge-sized shuffle left is the s-join, whose partitioning the
    groupBy reuses. Peel rounds on real graphs are few (each round
    removes a whole degree layer); the worst case is path-graph O(n),
    which no co-occurrence graph resembles."""
    und = _undirected(edges, a, b)
    # Exchange-free on the s-partitioned checkpoint.
    alive = und.select(F.col("s").alias("node")).distinct().localCheckpoint(
        eager=True
    )
    n = alive.count()
    bcast = n <= _STATE_BCAST_MAX
    if not bcast:
        und = _repin(und, "d")

    def degrees(alive: DataFrame) -> DataFrame:
        return (
            und.join(_bcast(alive.select(F.col("node").alias("d")), bcast), "d")
            .join(_bcast(alive.withColumnRenamed("node", "s"), bcast), "s")
            .groupBy(F.col("s").alias("node"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("core_degree"))
        )
    for _ in range(max_rounds):
        nxt = (
            degrees(alive)
            .filter(F.col("core_degree") >= k)
            .select("node")
            .localCheckpoint(eager=True)
        )
        m = nxt.count()
        alive = nxt
        if m == n:  # shrink-only ⇒ equal count == fixpoint
            return degrees(alive)
        n = m
        if n == 0:
            return degrees(alive)
    raise ValueError(
        f"k_core: no fixpoint within {max_rounds} rounds — raise "
        "max_rounds (and any unrolled oracle's round budget with it)"
    )


def sssp_bounded(
    edges: DataFrame,
    rounds: int,
    src: str = "s",
    dst: str = "d",
    weight: str = "w",
    source_node: int | None = None,
) -> DataFrame:
    """(node, dist) single-source shortest paths with INTEGER edge
    weights, Bellman–Ford with a fixed round budget: after k rounds,
    dist(v) is exactly the cheapest path of ≤ k edges — the bounded
    guarantee an unrolled oracle can replay. ``source_node`` defaults
    to the minimum source id (deterministic).

    Distributed shape per round: the relaxation joins only the
    FRONTIER (nodes improved in the previous round) against the edge
    list — one shuffle on the source key — then a node-keyed min-merge
    with the settled state; classic delta relaxation, same fixpoint as
    relaxing every node (an unimproved node's contributions were
    already applied the round it last improved). State is
    node-bounded. All values are exact int64: no float ever enters the
    min."""
    # Below the gate the frontier ships broadcast and the edges are
    # pinned by the relaxation TARGET key (dst), so hash(dst) survives
    # the narrow join into the groupBy(node) min-merge. The gate is the
    # EDGE count: edges >= nodes >= any frontier, so it bounds the
    # broadcast with one count. Above it the edges are pinned by src,
    # and each round shuffles only the frontier.
    e0 = edges.select(src, dst, weight).persist()
    bcast = e0.count() <= _STATE_BCAST_MAX
    edges = _pin(e0, dst if bcast else src)
    e0.unpersist()
    if source_node is None:
        source_node = edges.agg(F.min(src)).collect()[0][0]
    dist = (
        edges.sparkSession.createDataFrame(
            [(int(source_node), 0)], schema="node long, dist long"
        )
        .localCheckpoint(eager=True)
    )
    frontier = dist
    for _ in range(rounds):
        cand = (
            _bcast(frontier, bcast).join(edges, F.col("node") == F.col(src))
            .select(
                F.col(dst).alias("node"),
                (F.col("dist") + F.col(weight)).alias("cdist"),
            )
            .groupBy("node")
            .agg(F.min("cdist").alias("cdist"))
        )
        merged = (
            dist.join(cand, "node", "full_outer")
            .select(
                "node",
                F.least(F.col("dist"), F.col("cdist")).alias("ndist"),
                F.col("dist").alias("odist"),
            )
            .select(
                "node",
                F.coalesce("ndist", "odist").alias("dist"),
                (
                    F.col("odist").isNull()
                    | (F.col("ndist") < F.col("odist"))
                ).alias("improved"),
            )
            .localCheckpoint(eager=True)
        )
        dist = merged.select("node", "dist")
        frontier = merged.filter("improved").select("node", "dist")
        if frontier.isEmpty():
            break
    return dist


def multi_source_bfs(
    edges: DataFrame,
    n_sources: int = 4,
    a: str = "a",
    b: str = "b",
    max_hops: int = 6,
) -> DataFrame:
    """(src, node, hops) — minimum hop distances from the ``n_sources``
    smallest node ids to every node within ``max_hops``, undirected;
    ``n_sources=1`` is the single-source BFS from the minimum node id.
    The k-source sampling primitive behind estimated centralities
    (harmonic/closeness a la Eppstein & Wang 2004 — public method):
    one BFS sweep carries ALL sources as a composite (src, node)
    frontier key, so the sweep costs one edge-keyed shuffle join per
    LEVEL (not per source), and total join work is O(k·E) worst case
    with each (src, node) pair settled exactly once (left-anti against
    the settled relation).

    Sources are the k smallest node ids — deterministic and scale-
    factor independent, with no literal vertex id baked into the plan;
    the seed is a k-row sorted limit (TakeOrdered), never a collect.
    The frontier is gated per level on its exact row count, which the
    emptiness check already computes."""
    und = _undirected(edges, a, b)
    dist = (
        und.select(F.col("s").alias("node"))
        .distinct()
        .orderBy("node")
        .limit(n_sources)
        .select(
            F.col("node").alias("src"),
            "node",
            F.lit(0).cast("long").alias("hops"),
        )
        .localCheckpoint(eager=True)
    )
    frontier = dist.select("src", "node")
    n_front = n_sources
    for k in range(1, max_hops + 1):
        nxt = (
            _bcast(frontier, n_front <= _STATE_BCAST_MAX)
            .join(und, frontier.node == und.s)
            .select("src", F.col("d").alias("node"))
            .distinct()
            .join(dist.select("src", "node"), ["src", "node"], "left_anti")
            .withColumn("hops", F.lit(k).cast("long"))
            .localCheckpoint(eager=True)
        )
        n_front = nxt.count()
        if n_front == 0:
            break
        dist = dist.union(nxt).localCheckpoint(eager=True)
        frontier = nxt.select("src", "node")
    return dist


def _driver_kruskal(rows, comp_of: dict) -> list:
    """Exact Kruskal finish over collected cross-component edges under
    the (w, u, v) total order — equals continuing Boruvka rounds under
    the same order (the forest of a totally ordered edge set is
    unique). ``comp_of`` seeds the union-find with the current
    contraction."""
    parent = dict(comp_of)

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    out = []
    for w, u, v, cu, cv in sorted(rows):
        ru, rv = find(cu), find(cv)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
            out.append((u, v, w))
    return out


def boruvka_msf(
    edges: DataFrame,
    src: str = "u",
    dst: str = "v",
    weight: str = "w",
    max_rounds: int = 16,
    driver_threshold: int | None = None,
) -> DataFrame:
    """Minimum spanning FOREST by distributed Boruvka (Boruvka 1926;
    the standard parallel MST algorithm — public method): each round,
    every component selects its minimum outgoing edge under the TOTAL
    order (w, u, v) — the lexicographic tie-break makes all edge
    weights effectively distinct, so the forest is UNIQUE and both
    engines agree bit-for-bit — then selected component pairs contract
    via connected components. Components at least halve per round, so
    rounds = O(log V); each round is one edge-keyed join against the
    component map plus a component-keyed argmin — edge-linear, the
    pagerank discipline. Early exit when no cross-component edge
    remains (a disconnected graph yields its spanning forest).

    Input edges must be canonical (u < v, one row per edge). Returns
    the forest's (u, v, w) rows.

    Hybrid finish (the connected_components discipline): once the
    remaining cross-component edge relation fits the heap-scaled
    driver gate, an exact Kruskal under the SAME (w, u, v) order
    finishes on the driver — identical output (the forest of a totally
    ordered edge set is unique), and the distributed rounds remain the
    100 TB path (pinned equal with driver_threshold=0 in tests)."""
    if driver_threshold is None:
        driver_threshold = driver_gate_threshold(
            edges.sparkSession.conf.get("spark.driver.memory", "1g")
        )
    e = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v"), F.col(weight).alias("w")
    ).localCheckpoint(eager=True)
    comp = (
        e.select(F.col("u").alias("node"))
        .union(e.select("v"))
        .distinct()
        .select("node", F.col("node").alias("c"))
        .localCheckpoint(eager=True)
    )
    # Below the gate the component map ships broadcast into the
    # labeling joins, so the edge relation never re-shuffles (the
    # shuffle joins exchange it by u AND by v every round, since comp
    # changes each round).
    bcast = comp.count() <= _STATE_BCAST_MAX

    def cross(comp: DataFrame) -> DataFrame:
        """Edges labeled with both endpoint components, cross-component
        edges only."""
        return (
            e.join(_bcast(comp.select(F.col("node").alias("u"),
                                      F.col("c").alias("cu")), bcast), "u")
            .join(_bcast(comp.select(F.col("node").alias("v"),
                                     F.col("c").alias("cv")), bcast), "v")
            .filter(F.col("cu") != F.col("cv"))
        )

    chosen_rounds = []
    for _ in range(max_rounds):
        # feeds both argmin orientations
        lab = cross(comp).localCheckpoint(eager=True)
        n_cross = lab.count()
        if n_cross == 0:
            break
        if n_cross <= driver_threshold:
            rows = [
                (int(r["w"]), int(r["u"]), int(r["v"]),
                 int(r["cu"]), int(r["cv"]))
                for r in lab.collect()
            ]
            comp_of = {c: c for _, _, _, cu, cv in rows for c in (cu, cv)}
            finished = _driver_kruskal(rows, comp_of)
            if finished:
                spark = edges.sparkSession
                chosen_rounds.append(
                    spark.createDataFrame(
                        finished, "u long, v long, w long"
                    )
                )
            break
        cand = lab.select(
            F.col("cu").alias("c"), "u", "v", "w", "cu", "cv"
        ).unionAll(
            lab.select(F.col("cv").alias("c"), "u", "v", "w", "cu", "cv")
        )
        wmin = Window.partitionBy("c").orderBy("w", "u", "v")
        sel = (
            cand.withColumn("rn", F.row_number().over(wmin))
            .filter(F.col("rn") == 1)
            .localCheckpoint(eager=True)  # feeds chosen edges AND merge map
        )
        chosen_rounds.append(
            sel.select("u", "v", "w").distinct().localCheckpoint(eager=True)
        )
        mapping = connected_components(
            sel.select(F.col("cu").alias("src"), F.col("cv").alias("dst")),
            "src",
            "dst",
        ).select(F.col("node").alias("c"), F.col("component").alias("nc"))
        comp = (
            comp.join(_bcast(mapping, bcast), "c", "left")
            .select("node", F.coalesce("nc", F.col("c")).alias("c"))
            .localCheckpoint(eager=True)
        )
    else:  # no break: round budget exhausted — probe for completeness
        remaining = cross(comp).limit(1).count()
        if remaining:
            # Components only guarantee halving, so a component larger
            # than 2^max_rounds nodes can outlive the budget; returning
            # here would silently emit an incomplete forest (and any
            # unrolled cross-engine oracle with the same budget could
            # not detect it). Raise like k_core does.
            raise ValueError(
                f"boruvka_msf: cross-component edges remain after "
                f"{max_rounds} rounds — raise max_rounds (and any "
                "unrolled oracle's round budget with it)"
            )
    if not chosen_rounds:
        return e.filter(F.lit(False)).select("u", "v", "w")
    out = chosen_rounds[0]
    for df in chosen_rounds[1:]:
        out = out.unionAll(df)
    return out.distinct()


SPECTRAL_SCALE = 1 << 20
SPECTRAL_ITERS = 10


def spectral_bisection(
    edges: DataFrame,
    src: str = "u",
    dst: str = "v",
    iters: int = SPECTRAL_ITERS,
    scale: int = SPECTRAL_SCALE,
) -> DataFrame:
    """(node, v_q, cluster): normalized-cut spectral bipartition
    (Shi & Malik 2000; public method) by INTEGER-EXACT deflated power
    iteration on the lazy random walk P' = (I + D^-1 A) / 2 — the
    twelfth graph-suite member, the spectral counterpart to LPA/
    k-means/DBSCAN/single-linkage clustering.

    P's top eigenvector is trivial (all-ones, eigenvalue 1); deflating
    it leaves the second eigenvector — the relaxed normalized-cut
    indicator whose sign pattern is the classic bipartition. Each
    round, in exact int64 arithmetic both engines replay bit-for-bit:

        y_u    = sum_{v in N(u)} x_v                 (one arc join)
        p_u    = trunc((x_u * deg_u + y_u) / (2 deg_u))   [lazy step]
        mean_q = trunc(sum(deg_u * p_u) / sum(deg_u))     [deflation:
                 subtract the walk-stationary projection onto 1]
        x_u    = trunc((p_u - mean_q) * scale / m),
                 m = max(max_p - mean_q, mean_q - min_p, 1)  [rescale]

    The lazy half-step shifts the spectrum into [0, 1] so the iterate
    converges to the SECOND-LARGEST eigenvalue's vector (never the
    most-negative one), and the deterministic start x0 = ((node % 11)
    - 5) * (scale/5) has a nonzero component on it for any graph that
    is not adversarially symmetric. Truncating division uses Spark
    ``div`` semantics; the DuckDB oracle mirrors it with the
    registry.tdiv_sql guard. Quantization perturbs the direction by
    O(1/scale) per round — the cluster SIGN is the deliverable, pinned
    on planted two-community graphs in tests/test_graph.py.

    100 TB shape: one edge-keyed shuffle join + one map-side-combined
    3-scalar aggregate per round; the driver sees 3 scalars per round,
    never rows.

    Input edges must be canonical (u < v, one row per edge).
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    arcs = (
        e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = arcs.groupBy("u").agg(
        F.count(F.lit(1)).cast("bigint").alias("deg")
    )
    x = deg.select(
        F.col("u").alias("node"),
        "deg",
        (((F.col("u") % 11) - 5) * F.lit(scale // 5))
        .cast("bigint")
        .alias("x"),
    ).localCheckpoint(eager=True)
    total_deg = x.agg(F.sum("deg")).collect()[0][0]
    for _ in range(iters):
        nb = (
            arcs.join(
                x.select(F.col("node").alias("v"), F.col("x").alias("xv")),
                "v",
            )
            .groupBy("u")
            .agg(F.sum("xv").cast("bigint").alias("y"))
        )
        p = (
            x.join(nb, x["node"] == nb["u"])
            .select(
                "node",
                "deg",
                F.expr("(x * deg + y) div (2 * deg)").alias("p"),
            )
            .localCheckpoint(eager=True)
        )
        s_row = p.agg(
            F.sum(F.col("deg") * F.col("p")).alias("s"),
            F.max("p").alias("mx"),
            F.min("p").alias("mn"),
        ).collect()[0]
        mean_q = _trunc_div_int(int(s_row["s"]), int(total_deg))
        m = max(int(s_row["mx"]) - mean_q, mean_q - int(s_row["mn"]), 1)
        # The rescale is a FREE projection over the p checkpoint
        # (mean_q/m are literals) — the pre-r13 per-round eager
        # checkpoint of x was a whole extra job materializing the same
        # node-sized rows a second time. (Pre-partitioning arcs by v
        # was ALSO tried and measured ~0.5 s SLOWER at sf0.1 — the arc
        # relation here is co-purchase-sized, far smaller than the
        # node-pair relations where that discipline pays.)
        x = p.select(
            "node",
            "deg",
            F.expr(f"((p - {mean_q}L) * {scale}L) div {m}L").alias("x"),
        )
    return x.select(
        "node",
        F.col("x").alias("v_q"),
        (F.col("x") >= 0).cast("int").alias("cluster"),
    )


def _trunc_div_int(a: int, b: int) -> int:
    """Truncated integer division (toward zero): Spark ``div`` and the
    oracle's tdiv guard truncate, Python ``//`` floors."""
    return -((-a) // b) if a < 0 else a // b


WALK_COIN_M = 1 << 31
WALK_COIN_A = 1103515245
WALK_COIN_C = 1566083941
WALK_COIN_B = 12345


def deterministic_walks(
    arcs: DataFrame, steps: int, src: str = "u", dst: str = "v"
) -> DataFrame:
    """(walk_id, step, node): one walk per distinct source node, moved
    ``steps`` times — the DeepWalk corpus-generation primitive
    (Perozzi 2014; public method) made engine-replayable: at each step
    the walker takes the neighbor minimizing a deterministic LCG-style
    coin over (walk_id, step, neighbor), tie to the lowest neighbor id,
    instead of an RNG draw. Coins are built mod 2^31 with every factor
    < 2^31, so no intermediate exceeds 2^62 — exact int64 on both
    engines, no ANSI overflow. A graph-shaped corpus like this feeds
    skip-gram embedding training exactly as token windows do for text.

    Each step is ONE edge-keyed join plus a per-walk min_by — walker
    state is node-sized, never materializing neighborhoods. Walks from
    every node is the standard DeepWalk setting (r walks/node folds in
    by salting walk_id; one suffices for the deterministic variant).

    ``arcs`` must be the symmetric arc relation (both directions
    present; every node has out-degree >= 1).

    Pinning the arcs by the join key measured an 8x cut in the deepwalk
    query's total shuffle write at sf0.1 (158.8 -> 19.5 MB)."""
    a = _pin(arcs.select(F.col(src).alias("u"), F.col(dst).alias("v")), "u")
    cur = a.select(F.col("u").alias("walk_id")).distinct().select(
        "walk_id", F.col("walk_id").alias("node")
    ).localCheckpoint(eager=True)
    # Broadcasting the walker state per step was A/B'd for r14 and
    # REJECTED (interleaved min-of-3 at sf0.1: 3.2 s shuffle vs 4.8 s
    # broadcast): the min_by groupBy is already map-side-combined to
    # walk-sized rows and each walk's neighbors live in ONE
    # u-partition, so the broadcast only replaced a tiny state
    # exchange while paying a per-step broadcast build. The gate wins
    # only where it removes edge-EXPANSION-sized exchanges (k_core,
    # connected_components) — see OPTIMIZATION_r14.md.
    frames = [cur.select("walk_id", F.lit(0).alias("step"), "node")]
    for t in range(1, steps + 1):
        coin = (
            (F.col("walk_id") % WALK_COIN_M) * WALK_COIN_A % WALK_COIN_M
            + F.lit((t * WALK_COIN_B) % WALK_COIN_M)
            + (F.col("v") % WALK_COIN_M) * WALK_COIN_C % WALK_COIN_M
        ) % WALK_COIN_M
        cur = (
            cur.join(a, cur["node"] == a["u"])
            .groupBy("walk_id")
            .agg(
                F.min_by(
                    "v", F.struct(coin.alias("c"), F.col("v").alias("v"))
                ).alias("node")
            )
            .localCheckpoint(eager=True)
        )
        frames.append(
            cur.select("walk_id", F.lit(t).alias("step"), "node")
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.select(
        "walk_id", F.col("step").cast("int").alias("step"), "node"
    )
