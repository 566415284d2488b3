"""Distributed graph algorithms over DataFrame edge lists.

The reference engine has no graph surface (SURVEY §2: its only
iterative structure is the BST refinement walk, reference:src/server.py
`exploreBSTree`, which this repo subsumes with set-based evaluation).
These operators cover the iterative/relational-graph workloads a
training-data platform runs on entity graphs derived from its tables
(supplier-customer trade graphs, co-purchase graphs, document link
graphs).

Every operator takes a directed edge list ``(src, dst)`` and derives
what it needs through one private vocabulary, so each derivation is
decided in one place:

- :func:`_undirected` is the canonical undirected edge set ``(a, b)``:
  ``a = least(src, dst)``, ``b = greatest(src, dst)``, deduplicated.
  Self-loops are dropped (``a < b``) everywhere except BFS, whose
  ``sources=None`` contract is the minimum id of the graph INCLUDING
  self-loop-only nodes.
- :func:`_adjacency` is the symmetric ``(n, nb)`` adjacency, exploded
  map-side from the canonical set (half the shuffled bytes of
  deduplicating both directions).
- :func:`_nodes` is the distinct node set of a directed edge list.
- :func:`_degrees` is the ``(n, d)`` degree table of a canonical set.
- :func:`_triangles` enumerates each triangle ``a < b < c`` of a
  canonical set exactly once as ``e1(a,b) ⋈ e2(b,c) ⋈ e3(a,c)``.
- :func:`_copurchase_edges` and :func:`_cosupplier_edges` are the two
  lineitem self-join graphs the workloads share.

Every loop runs on one of two cores, each the only copy of its step:

- :func:`_propagate` is one round of a fixed-round loop (pagerank,
  PPR, katz, both HITS half-steps, label propagation): a message
  projected from the node state joins the edge frame on the sending
  endpoint, is aggregated per receiving node and folded back onto the
  node frame by the caller's fold.
- :func:`_fixpoint` is the one convergence loop (BFS, kcore, ktruss):
  step, truncate, and compare a ``(count, ...)`` probe with the
  previous round's, raising after ``max_iters`` rounds.

Both truncate every round's state with a lazy ``localCheckpoint``
that the next job materializes, and both decide the broadcast of the
node-sized side through :func:`_broadcast_if`, priced by
``materialize.broadcast_ok`` on a row count the loop already probed.
Loop invariants (edges, node frames) go through ``materialize`` once.

Exactness: every score is an int64 (or exact rational) computed with
floor division, so results are bit-identical across engines and
partitionings. PageRank, PPR, HITS and Katz carry integer fixed-point
ranks (float ranks sum contributions in nondeterministic order;
integer sums are associative-exact).

Triangle counting picks one of three exact strategies from the degree
table: a dense ``mapInArrow`` matmul kernel for small graphs, the lazy
wedge join when the wedge mass is small, and otherwise the
degree-ordered adjacency intersection (orientation by ``(degree,
node)`` bounds every out-list by √(2m)).

The DuckDB oracles are plain SQL: fixed-round loops unroll into CTE
chains, convergence loops into bounded unrolls with a guard that
errors if the last two rounds still differ.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from query_refinement_dsit_databases_2021_spark.operators.materialize import (
    broadcast_ok,
    materialize,
)


def _undirected(edges: DataFrame, keep_loops: bool = False) -> DataFrame:
    """Lazy canonical undirected edge set ``(a, b)``, ``a <= b``,
    distinct; self-loops dropped unless ``keep_loops``."""
    und = edges.select(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    )
    if not keep_loops:
        und = und.where(F.col("a") < F.col("b"))
    return und.distinct()


def _adjacency(und: DataFrame) -> DataFrame:
    """Symmetric adjacency ``(n, nb)`` of a canonical edge set: both
    directions of every edge, exploded map-side."""
    return und.select(
        F.explode(
            F.array(
                F.struct(F.col("a").alias("n"), F.col("b").alias("nb")),
                F.struct(F.col("b").alias("n"), F.col("a").alias("nb")),
            )
        ).alias("e")
    ).select(F.col("e.n").alias("n"), F.col("e.nb").alias("nb"))


def _nodes(edges: DataFrame) -> DataFrame:
    """Distinct ``node`` set of a directed edge list."""
    return (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )


def _degrees(und: DataFrame) -> DataFrame:
    """Degree table ``(n, d)`` of a canonical edge set."""
    return (
        und.select(F.explode(F.array("a", "b")).alias("n"))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )


def _triangles(und: DataFrame) -> DataFrame:
    """Every triangle ``a < b < c`` of a canonical edge set, once:
    ``e1(a,b) ⋈ e2(b,c) ⋈ e3(a,c)``."""
    e2 = und.select(F.col("a").alias("b"), F.col("b").alias("c"))
    e3 = und.select("a", F.col("b").alias("c"))
    return und.join(e2, "b").join(e3, ["a", "c"])


def _broadcast_if(df: DataFrame, n_rows: int) -> DataFrame:
    """``df`` with a broadcast hint while ``n_rows`` of it fit
    ``broadcast_ok``; past the bound the join shuffles."""
    return F.broadcast(df) if broadcast_ok(n_rows, df) else df


def _propagate(
    edges: DataFrame,
    state: DataFrame,
    msg: Column,
    agg: Column,
    fold,
    n_nodes: int,
    send: str = "src",
    recv: str = "dst",
    by: tuple[str, ...] = (),
) -> DataFrame:
    """One round of a fixed-round loop. Every node of ``state`` sends
    ``msg`` (computed on the node-sized state, so the edge frame joins
    one small side) along each ``send`` → ``recv`` edge; ``agg``
    aggregates the messages ``m`` per receiving ``node`` (and ``by``),
    and ``fold`` turns that frame, broadcast by the same decision as
    the message (a fold that joins it skips the node frame's shuffle,
    one job per round), into the next state. The state is a lazy
    local checkpoint, so the next round plans against materialized
    blocks and the truncation costs no job of its own (at sf0.1 it
    ran pagerank in 0.53× and katz in 0.80× of the untruncated
    loop's time)."""
    sent = state.select(F.col("node").alias(send), msg.alias("m"))
    got = (
        edges.join(_broadcast_if(sent, n_nodes), send)
        .groupBy(F.col(recv).alias("node"), *by)
        .agg(agg)
    )
    return fold(_broadcast_if(got, n_nodes)).localCheckpoint(eager=False)


def _fixpoint(
    state: DataFrame, step, max_iters: int, name: str, *probe: Column
) -> DataFrame:
    """The convergence loop: ``state = step(state)`` until the
    ``(count, *probe)`` aggregate of a round equals the previous
    round's; ``step`` gets ``state`` broadcast-hinted by its counted
    size. Each round's state is a lazy local checkpoint that its
    probe materializes in the same job. ``max_iters`` bounds the
    rounds, the one that confirms the fixpoint included."""
    state = state.localCheckpoint(eager=False)
    prev = state.agg(F.count(F.lit(1)), *probe).first()
    for _ in range(max_iters):
        state = step(_broadcast_if(state, prev[0])).localCheckpoint(eager=False)
        cur = state.agg(F.count(F.lit(1)), *probe).first()
        if cur == prev:
            return state
        prev = cur
    raise RuntimeError(f"{name} did not converge in {max_iters} rounds")


# fixed-point PageRank constants: ranks carry 1e9 units per node of
# initial mass; damping 0.85 applied as integer `* 85 DIV 100`.
INIT_MASS = 1_000_000_000
TELEPORT = 150_000_000  # floor(0.15 * INIT_MASS)
PR_ITERATIONS = 5


def pagerank(edges: DataFrame, iterations: int = PR_ITERATIONS) -> DataFrame:
    """Fixed-point PageRank over a directed edge list ``(src, dst)``.

    Every node (source or destination) starts with ``INIT_MASS`` rank
    units; each iteration a node keeps the teleport share
    (``TELEPORT`` units) and receives ``(85 * r DIV 100) DIV outdeg``
    from each in-neighbor. All arithmetic is int64 (`DIV` =
    floor-division on non-negatives), so the result is exactly
    reproducible regardless of partitioning or summation order —
    which is what lets a 1000-executor run be byte-compared against a
    single-node oracle. Dangling nodes keep receiving the teleport
    share; their outgoing mass is dropped (documented contract).
    Returns ``(node, rank)``.

    One :func:`_propagate` round per iteration. The node state carries
    the loop-invariant ``outdeg``, so the per-edge send value is a
    projection of the state, and the edge table joins exactly one
    small side per iteration (a 5-rep round-robin A/B at sf0.1 measured
    4.29 s vs 4.70 s for joining state and degree separately). The
    send frame broadcast is 1.65× at 100M edges / 10M nodes
    (`graph_scale.csv`); past the bound the plain equi-join loop
    measured linear to 300M edges / 30M nodes.
    """
    return _rank_fixed_point(edges, iterations)


def _rank_fixed_point(
    edges: DataFrame, iterations: int, seeds: DataFrame | None = None
) -> DataFrame:
    """The integer fixed-point loop of :func:`pagerank` (``seeds`` is
    None: every node starts with ``INIT_MASS`` and receives
    ``TELEPORT``) and :func:`personalized_pagerank` (only seeds
    start with mass and receive the teleport share)."""
    edges = materialize(edges.select("src", "dst").distinct())
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    # outdeg is NULL for dangling nodes, whose NULL message no edge sends
    ndeg = _nodes(edges).join(deg, F.col("node") == deg.src, "left")
    if seeds is None:
        ndeg = ndeg.select("node", "outdeg")
        init, teleport = F.lit(INIT_MASS), F.lit(TELEPORT)
    else:
        seed_flag = F.broadcast(
            seeds.select(F.col("node"), F.lit(True).alias("_seed"))
        )
        ndeg = ndeg.join(seed_flag, "node", "left").select("node", "outdeg", "_seed")
        init = F.when(F.col("_seed"), F.lit(INIT_MASS)).otherwise(F.lit(0))
        teleport = F.when(F.col("_seed"), F.lit(TELEPORT)).otherwise(F.lit(0))
    ndeg = ndeg.localCheckpoint(eager=False)
    n = ndeg.count()

    def fold(c: DataFrame) -> DataFrame:
        return ndeg.join(c, "node", "left").select(
            "node",
            (teleport + F.coalesce(F.col("c"), F.lit(0))).cast("long").alias("rank"),
            "outdeg",
        )

    ranks = ndeg.select("node", init.cast("long").alias("rank"), "outdeg")
    for _ in range(iterations):
        ranks = _propagate(
            edges,
            ranks,
            F.expr("(85 * rank DIV 100) DIV outdeg"),
            F.sum("m").alias("c"),
            fold,
            n,
        )
    return ranks.select("node", "rank")


# HITS fixed-point scale: scores rescale to max = HITS_SCALE after
# every half-step, so int64 never overflows (edge-sum bound
# n_edges * HITS_SCALE ~ 6e11 at sf0.1; * HITS_SCALE for the rescale
# multiply stays < 2^63) and the result is partitioning-invariant.
HITS_SCALE = 1_000_000
HITS_ITERATIONS = 4


def hits(edges: DataFrame, iterations: int = HITS_ITERATIONS) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999) over a directed edge
    list ``(src, dst)`` — the authority-transfer companion to
    :func:`pagerank`: a FIXED number of synchronous rounds, each two
    :func:`_propagate` half-steps (authority from in-neighbors' hub
    scores, then hub from out-neighbors' authority scores).

    Exactness: textbook HITS L2-normalizes each half-step; floating
    normalization is summation-order-sensitive, so this uses the
    fixed-point analogue — integer scores rescaled to ``max =
    HITS_SCALE`` by ``score * HITS_SCALE DIV max(score)`` (max is
    order-free, int division exact), making every round bit-identical
    across engines and partitionings while preserving the relative
    magnitudes the rescale-invariant HITS iteration is defined by.

    Each half-step's aggregate feeds both the rescale join and its
    max, which arrives as a 1-row broadcast cross join inside the
    same job (no driver collect). Because every half-step's state is
    truncated, the plan stays linear in iterations (pinned in
    test_plan_budgets); untruncated, each reference re-embeds the
    prior lineage and the plan grows ~5.5× per iteration. Nodes
    without in-edges get authority 0; without out-edges, hub 0. The
    score broadcast is 2.13× at 100M edges / 10M nodes.

    Returns ``(node, authority, hub)`` for every node.
    """
    edges = materialize(edges.select("src", "dst").distinct())
    nodes = _nodes(edges).localCheckpoint(eager=False)
    n = nodes.count()

    def rescale(score: str):
        def fold(c: DataFrame) -> DataFrame:
            mx = F.broadcast(c.agg(F.max("c").alias("mx")))
            return (
                nodes.join(c, "node", "left")
                .crossJoin(mx)
                .select(
                    "node",
                    F.expr(f"coalesce(c, 0) * {HITS_SCALE} DIV mx")
                    .cast("long")
                    .alias(score),
                )
            )

        return fold

    hub = nodes.select("node", F.lit(HITS_SCALE).cast("long").alias("h"))
    auth = None
    for _ in range(iterations):
        auth = _propagate(edges, hub, F.col("h"), F.sum("m").alias("c"), rescale("a"), n)
        hub = _propagate(
            edges, auth, F.col("a"), F.sum("m").alias("c"), rescale("h"), n,
            send="dst", recv="src",
        )
    return auth.join(hub, "node").select(
        "node", F.col("a").alias("authority"), F.col("h").alias("hub")
    )


HARMONIC_MAX_DIST = 12
HARMONIC_SEEDS = (1, 2, 100001, 100002)


def harmonic_centrality_sampled(
    edges: DataFrame,
    seeds: tuple[int, ...] = HARMONIC_SEEDS,
    max_dist: int = HARMONIC_MAX_DIST,
) -> DataFrame:
    """Exact harmonic centrality for a SAMPLED seed set —
    ``H(s) = Σ_{v≠s} 1/d(s,v)`` over nodes within ``max_dist`` —
    composed from the certified :func:`bfs_distances` machinery (one
    convergence BFS per seed). Sampling is the production form:
    all-pairs centrality is O(V·E), per-seed is one BFS, and harmonic
    (unlike closeness) handles disconnected remainders gracefully
    (absent nodes contribute 0, no infinite-distance special case).

    Exactness: contributions are ``floor(1e6 / d)`` — integer
    division, so the sum is exact int64 and engine-invariant; the
    ``max_dist`` horizon is part of the contract (mirrored in the
    oracle's recursion bound).

    Returns ``(seed, n_reached, harmonic_micro)`` ordered by seed.
    Seeds that reach NO node within ``max_dist`` (isolated or absent
    from the graph) are omitted entirely — a global agg would still
    emit a ``(seed, 0, NULL)`` row, but the oracle's GROUP BY over the
    ``dist > 0`` frontier produces no group for them, so both engines
    must agree on "no row" (advice r06: latent divergence on sparse
    graphs; benign on the dense trade graph but pinned by test now).
    """
    # ONE multi-source BFS loop for all seeds (r09, guide §1.2): the
    # previous per-seed loop ran |seeds| sequential BFS convergence
    # loops — rounds × 2 eager jobs each (measured 17 s at sf0.1 for 4
    # seeds); keying the frontier by (seed, node) runs them together
    # for one loop of max-diameter rounds. Per-seed distances — and
    # the no-row contract for seeds that reach nothing — are identical
    # (GROUP BY seed over the dist > 0 frontier).
    d = _bfs_distances_multi(edges, seeds)
    return (
        d.where((F.col("dist") > 0) & (F.col("dist") <= max_dist))
        .groupBy("seed")
        .agg(
            F.count(F.lit(1)).alias("n_reached"),
            F.sum(F.expr("1000000 DIV dist")).cast("long").alias(
                "harmonic_micro"
            ),
        )
        .where(F.col("n_reached") > 0)
        .select("seed", "n_reached", "harmonic_micro")
        .orderBy("seed")
    )


# dense-kernel gate: graph_triangles (the 1,000-node sf0.1 co-supplier
# graph) runs the kernel at a 0.011 min-ratio against pre-r09 f922b4b
# (BENCH_AB_pr10_graph_strategies.json)
TRI_DENSE_MAX_NODES = 4096
TRI_DENSE_MAX_EDGES = 4_000_000
# below this exact wedge mass (Σ_n d(n)·(d(n)−1)/2 over the canonical
# graph — the tight bound on the wedge join's row count) the plain
# lazy two-join enumeration beats the checkpointed intersection
# machinery (see the small-sparse note in triangle_count's docstring);
# graph_clustering_coeff (15k-node co-purchase graph, past the node
# gate) runs it at a 0.751 min-ratio against f922b4b (same file). No
# sf0.1 workload reaches the intersection path, the 100 TB form.
TRI_WEDGE_MAX_MASS = 10_000_000


def _triangle_count_dense(und: DataFrame) -> DataFrame:
    """Dense-adjacency triangle kernel (see :func:`triangle_count`):
    one ``mapInArrow`` task over the coalesced canonical ``(a, b)``
    edge set; numpy remaps ids, orients by ``(degree, node)`` exactly
    like the distributed path's struct comparison, and reads all three
    corner credits off two BLAS matmuls. Gated small by the caller, so
    the single task holds at most a few hundred MB."""

    def kernel(batches):
        import numpy as np
        import pyarrow as pa

        out_schema = pa.schema(
            [("node", pa.int64()), ("n_triangles", pa.int64())]
        )
        a_parts, b_parts = [], []
        for batch in batches:
            a_parts.append(batch.column(0).to_numpy(zero_copy_only=False))
            b_parts.append(batch.column(1).to_numpy(zero_copy_only=False))
        if not a_parts:
            return
        a = np.concatenate(a_parts)
        b = np.concatenate(b_parts)
        ids = np.unique(np.concatenate([a, b]))
        n = ids.size
        ai = np.searchsorted(ids, a)
        bi = np.searchsorted(ids, b)
        d = np.bincount(ai, minlength=n) + np.bincount(bi, minlength=n)
        # orientation: (degree, ORIGINAL node id) lexicographic — the
        # same total order as the distributed path's struct compare
        a_first = (d[ai] < d[bi]) | ((d[ai] == d[bi]) & (a < b))
        ui = np.where(a_first, ai, bi)
        vi = np.where(a_first, bi, ai)
        A = np.zeros((n, n), dtype=np.float64)
        A[ui, vi] = 1.0
        AU = A * (A @ A.T)
        credits = (
            (A * (A @ A)).sum(axis=0)  # z role
            + AU.sum(axis=1)  # u role
            + AU.sum(axis=0)  # v role
        ).astype(np.int64)
        keep = credits > 0
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(ids[keep], type=pa.int64()),
                pa.array(credits[keep], type=pa.int64()),
            ],
            schema=out_schema,
        )

    return und.coalesce(1).mapInArrow(
        kernel, "node long, n_triangles long"
    )


def triangle_count(
    edges: DataFrame, und: DataFrame | None = None
) -> DataFrame:
    """Exact triangle participation counts over an undirected graph.

    ``edges`` is any directed/duplicated edge list; it is first
    canonicalized to the oriented distinct form ``a < b`` (self-loops
    dropped), then triangles ``a < b < c`` are enumerated with two
    equi-joins:  e1(a,b) ⋈ e2(b,c) ⋈ e3(a,c).  Each triangle appears
    exactly once. Returns per-node participation ``(node,
    n_triangles)`` — each triangle credits its three corner roles —
    so both the global count (sum / 3) and the per-node clustering
    signal fall out of one plan.

    r09 optimization (guide §1.2 — fix the distributed algorithm
    first). The original plan enumerated via the two-join wedge form
    e1(a,b) ⋈ e2(b,c) — and referenced the canonical edge set three
    times and the triangle frame three times (a union of projections),
    which Spark reuses NEITHER of, so the upstream edge derivation ran
    up to nine times and the enumeration three times: measured 66 s at
    sf0.1, where the wedge exchange alone carries Σ_v d⁻(v)·d⁺(v) =
    137M rows (the co-supplier graph is near-complete: 998 nodes,
    454k edges, 124.5M triangles). Replaced with the degree-oriented
    adjacency-intersection form (the standard O(m^1.5) algorithm):

    - canonical edge set computed ONCE (localCheckpoint);
    - edges oriented low→high by ``(degree, node)``, which bounds
      every out-adjacency list by √(2m) — on power-law graphs at
      100 TB this is the difference between a hub exploding the wedge
      join and bounded per-row work (the docstring's long-promised
      arboricity refinement);
    - per-edge triangle closure is ``array_intersect`` of the two
      out-lists — pure map-side codegen work after two edge-sized
      equi-joins, replacing the 137M-row wedge Exchange;
    - corner credits are aggregated role-by-role from ONE checkpointed
      closure frame: the u and v roles are plain ``sum(size(zs))``
      aggregates (no row expansion at all), and only the z role
      explodes ``zs`` — into a node-cardinality hash aggregate that
      partial-aggregation collapses per task. The first cut emitted
      all three roles through a single
      ``explode(concat(zs, u·|zs|, v·|zs|))`` generate; the per-row
      array_repeat+flatten+concat allocation made that generate the
      new bottleneck — A/B at sf0.1: 21.8 s (fused generate) vs
      5.6 s (split aggregation), identical results.

    Per-node participation counts are orientation-invariant (each
    triangle is found exactly once at its lowest-ordered edge), so the
    result is bit-identical to the wedge form; the DuckDB oracle is
    unchanged and the gate compares exact rows.

    r10 DENSE-GRAPH kernel (guide §4.2 — hand whole batches to
    vectorized native code; the r09 round doc's deferred candidate).
    Phase-profiling the r09 form at sf0.1 put 11 s of the 18 s total
    in the closure pass alone: the two adjacency joins materialize
    Σ(|N⁺(u)|+|N⁺(v)|) ≈ 400M array elements (~3 GB of rows) and
    ``array_intersect`` re-hashes one side per ROW. On a dense graph
    (the co-supplier graph: 998 nodes, 454k edges — near-complete)
    the adjacency fits a dense n×n matrix, where all three corner
    credits are closed-form matrix products over the oriented
    adjacency A (A[u,v]=1 ⇔ u→v):

        z_credit = colsum(A ∘ (A @ A))      u_credit = rowsum(A ∘ (A @ Aᵀ))
        v_credit = colsum(A ∘ (A @ Aᵀ))

    (derivation: z_credit[z] = Σ_{u,v} A[u,v]A[u,z]A[v,z], etc.).
    The kernel runs as ONE ``mapInArrow`` task over the coalesced
    canonical edge set — no driver collect; BLAS does the two n³
    matmuls in float64 (counts ≤ n·m ≪ 2⁵³, so every value is an
    exact integer) — and is gated on ``TRI_DENSE_MAX_NODES`` nodes /
    ``TRI_DENSE_MAX_EDGES`` edges measured by one bounded aggregate
    over the checkpointed edge set (n=4096 ⇒ 3×134 MB of matrices in
    one Python worker, the documented ceiling). Past the gate the
    r09 distributed intersection path runs unchanged — the 100 TB
    form. Both paths are exact integer counts; bit-identity is pinned
    by a cross-strategy test and the oracle gate.

    r10 SMALL-SPARSE branch (guide §1.2 — pick the algorithm by the
    data, and don't pay materialization machinery for data that is
    trivial to enumerate). The intersection form + checkpoints exist
    for graphs whose wedge join would explode (co-supplier graph:
    137M wedge rows from 454k edges); on a small SPARSE graph (the
    clustering workload's co-purchase graph: 15k nodes, 17.5k edges —
    past the dense NODE gate but with tiny wedge mass) that machinery
    is ~15 fixed-cost stages where the plain two-join wedge
    enumeration is ~5 (interleaved A/B at sf0.1: clustering 2.20 s
    checkpointed-intersection vs 0.76 s wedge form at the r08
    reference). The gate now aggregates the DEGREE table (needed by
    the big path anyway), which yields the exact node count for the
    dense gate and the exact wedge mass Σ d·(d−1)/2 — the tight bound
    on the wedge join's row count, immune to the hub pathology a
    count-of-edges gate would miss; ``wedge_mass ≤ TRI_WEDGE_MAX_MASS``
    routes to the lazy wedge plan. All three strategies are
    bit-identical (cross-strategy pin test).

    ``und``: optional pre-canonicalized, pre-materialized ``(a, b)``
    edge frame (``a < b``, distinct) — :func:`clustering_coefficient`
    shares its own canonical frame so the edge derivation is
    canonicalized and materialized ONCE, not twice. A row with
    ``a >= b`` raises ``ValueError``.
    """
    if und is None:
        und = materialize(_undirected(edges))
    # the degree table serves the gate AND the big path's orientation:
    # the gate's job materializes it, and one bounded aggregate yields
    # exact n_nodes (dense-kernel memory gate), m and the wedge mass.
    # A row with a >= b explodes into a NULL node, which the gate counts.
    deg = _degrees(
        und.select("a", F.when(F.col("a") < F.col("b"), F.col("b")).alias("b"))
    ).localCheckpoint(eager=False)
    gate = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum("d").alias("sd"),
        F.sum(F.expr("d * (d - 1) DIV 2")).alias("wedge_mass"),
        F.sum(F.when(F.col("n").isNull(), F.col("d"))).alias("bad"),
    ).first()
    if gate["bad"]:
        raise ValueError(
            f"triangle_count: und has {gate['bad']} rows with a >= b"
        )
    n_nodes = gate["n_nodes"] or 0
    m = (gate["sd"] or 0) // 2
    if n_nodes <= TRI_DENSE_MAX_NODES and m <= TRI_DENSE_MAX_EDGES:
        return _triangle_count_dense(und)
    if (gate["wedge_mass"] or 0) <= TRI_WEDGE_MAX_MASS:
        # lazy wedge enumeration; ONE map-side explode credits all
        # three corners
        return (
            _triangles(und).select(F.explode(F.array("a", "b", "c")).alias("node"))
            .groupBy("node")
            .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
        )
    da = deg.select(F.col("n").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("n").alias("b"), F.col("d").alias("db"))
    oriented = materialize(
        und.join(da, "a")
        .join(db, "b")
        .select(
            F.when(
                F.struct(F.col("da"), F.col("a"))
                < F.struct(F.col("db"), F.col("b")),
                F.col("a"),
            )
            .otherwise(F.col("b"))
            .alias("u"),
            F.when(
                F.struct(F.col("da"), F.col("a"))
                < F.struct(F.col("db"), F.col("b")),
                F.col("b"),
            )
            .otherwise(F.col("a"))
            .alias("v"),
        )
    )
    adj = oriented.groupBy("u").agg(F.collect_list("v").alias("nbrs"))
    na = adj.select(F.col("u").alias("_ua"), F.col("nbrs").alias("na"))
    nb = adj.select(F.col("u").alias("_ub"), F.col("nbrs").alias("nb"))
    # checkpoint (NOT persist+weakref-release): the closure frame
    # feeds three role aggregates, and callers derive from the result
    # (orderBy/limit) then drop the returned object — a weakref tie on
    # the returned frame fired BEFORE execution and the intersection
    # re-ran once per branch (measured: 22-26 s vs 14 s checkpointed
    # vs 5-11 s when a persist survives; the checkpoint is the form
    # whose lifetime the ContextCleaner manages correctly regardless
    # of what callers do with the result)
    closed = materialize(
        oriented.join(na, F.col("u") == F.col("_ua"))
        .join(nb, F.col("v") == F.col("_ub"))
        .select("u", "v", F.array_intersect("na", "nb").alias("zs"))
    )
    zc = (
        closed.select(F.explode("zs").alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    uc = closed.groupBy(F.col("u").alias("node")).agg(
        F.sum(F.size("zs")).alias("c")
    )
    vc = closed.groupBy(F.col("v").alias("node")).agg(
        F.sum(F.size("zs")).alias("c")
    )
    return (
        zc.unionByName(uc)
        .unionByName(vc)
        .groupBy("node")
        .agg(F.sum("c").cast("long").alias("n_triangles"))
        .where(F.col("n_triangles") > 0)
    )


# --- workloads -------------------------------------------------------

_EDGES_SQL = """
SELECT DISTINCT l.l_suppkey AS src, 100000 + o.o_custkey AS dst
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
"""


def _trade_edges(spark: SparkSession) -> DataFrame:
    """Supplier -> customer trade edges (namespaced so the two key
    spaces cannot collide).

    Intentionally NOT deduplicated here (r09): every consumer
    (pagerank, hits, harmonic BFS, ppr, katz, degree_histogram)
    canonicalizes its edge set internally — `select(src,dst)
    .distinct()` before its checkpoint — so a distinct here was a
    second full shuffle of the edge list in every graph workload. The
    oracle's edge CTE keeps its DISTINCT: the graph both engines
    compute over is identical."""
    l = spark.table("lineitem").select("l_orderkey", "l_suppkey")
    o = spark.table("orders").select("o_orderkey", "o_custkey")
    return l.join(o, l.l_orderkey == o.o_orderkey).select(
        F.col("l_suppkey").alias("src"),
        (F.lit(100000) + F.col("o_custkey")).cast("long").alias("dst"),
    )


def _cosupplier_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier co-occurrence graph ``(src, dst)``, ``src < dst``: two
    suppliers are linked when they supply lineitems of the same
    order."""
    from query_refinement_dsit_databases_2021_spark.workloads import register_views

    register_views(spark, sf_dir)
    l = spark.table("lineitem").select("l_orderkey", "l_suppkey")
    r = l.select(F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("s2"))
    return l.join(r, (l.l_orderkey == r.o2) & (l.l_suppkey < r.s2)).select(
        F.col("l_suppkey").alias("src"), F.col("s2").alias("dst")
    )


def _wl_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from query_refinement_dsit_databases_2021_spark.workloads import register_views

    register_views(spark, sf_dir)
    ranks = pagerank(_trade_edges(spark), PR_ITERATIONS)
    return ranks.orderBy(F.col("rank").desc(), F.col("node")).limit(20)


def _pagerank_oracle(iterations: int = PR_ITERATIONS) -> str:
    parts = [
        f"WITH edges AS ({_EDGES_SQL}),",
        "nodes AS (SELECT src AS node FROM edges"
        " UNION SELECT dst FROM edges),",
        "deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),",
        f"r0 AS (SELECT node, CAST({INIT_MASS} AS BIGINT) AS rank FROM nodes)",
    ]
    for k in range(1, iterations + 1):
        parts.append(
            f""",
c{k} AS (SELECT e.dst AS node,
         CAST(SUM((85 * r.rank // 100) // d.outdeg) AS BIGINT) AS c
         FROM edges e
         JOIN r{k-1} r ON r.node = e.src
         JOIN deg d ON d.src = e.src
         GROUP BY e.dst),
r{k} AS (SELECT n.node,
         CAST({TELEPORT} + COALESCE(c.c, 0) AS BIGINT) AS rank
         FROM nodes n LEFT JOIN c{k} c ON c.node = n.node)"""
        )
    parts.append(
        f"""
SELECT node, rank FROM r{iterations}
ORDER BY rank DESC, node LIMIT 20"""
    )
    return "\n".join(parts)


ORACLE_PAGERANK = _pagerank_oracle()


def _wl_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    from query_refinement_dsit_databases_2021_spark.workloads import register_views

    register_views(spark, sf_dir)
    scores = hits(_trade_edges(spark), HITS_ITERATIONS)
    return scores.orderBy(
        F.col("authority").desc(), F.col("hub").desc(), F.col("node")
    ).limit(20)


def _hits_oracle(iterations: int = HITS_ITERATIONS) -> str:
    s = HITS_SCALE
    # every CTE is explicitly MATERIALIZED: each level is referenced
    # at least twice (rescale join + max, or the two half-steps), and
    # DuckDB's default inlining re-evaluates the whole prior chain per
    # reference — measured 280 s (exponential) vs sub-second
    # materialized on the sf0.01 trade graph. Same fix class as the
    # Spark side's persist-per-half-step.
    parts = [
        f"WITH edges AS MATERIALIZED ({_EDGES_SQL}),",
        "nodes AS MATERIALIZED (SELECT src AS node FROM edges"
        " UNION SELECT dst FROM edges),",
        f"h0 AS MATERIALIZED (SELECT node, CAST({s} AS BIGINT) AS h"
        " FROM nodes)",
    ]
    for k in range(1, iterations + 1):
        parts.append(
            f""",
ar{k} AS MATERIALIZED (
    SELECT e.dst AS node, CAST(SUM(h.h) AS BIGINT) AS raw
    FROM edges e JOIN h{k-1} h ON h.node = e.src GROUP BY e.dst),
am{k} AS MATERIALIZED (SELECT MAX(raw) AS mx FROM ar{k}),
a{k} AS MATERIALIZED (
    SELECT n.node,
           CAST(COALESCE(ar.raw, 0) * {s} // am.mx AS BIGINT) AS a
    FROM nodes n LEFT JOIN ar{k} ar ON ar.node = n.node
    CROSS JOIN am{k} am),
hr{k} AS MATERIALIZED (
    SELECT e.src AS node, CAST(SUM(a.a) AS BIGINT) AS raw
    FROM edges e JOIN a{k} a ON a.node = e.dst GROUP BY e.src),
hm{k} AS MATERIALIZED (SELECT MAX(raw) AS mx FROM hr{k}),
h{k} AS MATERIALIZED (
    SELECT n.node,
           CAST(COALESCE(hr.raw, 0) * {s} // hm.mx AS BIGINT) AS h
    FROM nodes n LEFT JOIN hr{k} hr ON hr.node = n.node
    CROSS JOIN hm{k} hm)"""
        )
    parts.append(
        f"""
SELECT a.node, a.a AS authority, h.h AS hub
FROM a{iterations} a JOIN h{iterations} h ON h.node = a.node
ORDER BY authority DESC, hub DESC, a.node LIMIT 20"""
    )
    return "\n".join(parts)


ORACLE_HITS = _hits_oracle()


def _wl_harmonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from query_refinement_dsit_databases_2021_spark.workloads import register_views

    register_views(spark, sf_dir)
    return harmonic_centrality_sampled(_trade_edges(spark))


_HARMONIC_SEED_VALUES = ", ".join(f"({s})" for s in HARMONIC_SEEDS)

# recursive BFS walk with UNION dedup on (seed, node, dist) states and
# the max_dist bound as the termination guarantee; min(dist) per node
# recovers the BFS level
ORACLE_HARMONIC = f"""
WITH RECURSIVE und AS (
  SELECT src, dst FROM ({_EDGES_SQL}) e0
  UNION
  SELECT dst AS src, src AS dst FROM ({_EDGES_SQL}) e1),
walk(seed, node, dist) AS (
  SELECT s, s, 0 FROM (VALUES {_HARMONIC_SEED_VALUES}) v(s)
  UNION
  SELECT w.seed, e.dst, w.dist + 1
  FROM walk w JOIN und e ON e.src = w.node
  WHERE w.dist < {HARMONIC_MAX_DIST}),
d AS (SELECT seed, node, min(dist) AS dist FROM walk GROUP BY 1, 2)
SELECT CAST(seed AS BIGINT) AS seed,
       CAST(count(*) AS BIGINT) AS n_reached,
       CAST(sum(1000000 // dist) AS BIGINT) AS harmonic_micro
FROM d WHERE dist > 0 AND dist <= {HARMONIC_MAX_DIST}
GROUP BY seed ORDER BY seed"""


def _wl_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = triangle_count(_cosupplier_edges(spark, sf_dir))
    return part.orderBy(F.col("n_triangles").desc(), F.col("node")).limit(15)


ORACLE_TRIANGLES = """
WITH edges AS (
  SELECT DISTINCT a.l_suppkey AS a, b.l_suppkey AS b
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
),
tri AS (
  SELECT e1.a AS x, e1.b AS y, e3.b AS z
  FROM edges e1
  JOIN edges e2 ON e2.a = e1.b
  JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
),
corners AS (
  SELECT x AS node FROM tri
  UNION ALL SELECT y FROM tri
  UNION ALL SELECT z FROM tri
)
SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
FROM corners GROUP BY node
ORDER BY n_triangles DESC, node LIMIT 15"""


CC_BUCKET_US = 30_000_000  # 30 s co-activity window


def coactivity_components(events: DataFrame) -> DataFrame:
    """Connected components over the user co-activity graph (users
    linked when active in the same 30 s bucket with the same event
    type), summarized per component ``(cluster_id, n_nodes)``.
    Delegates to the dedup family's :func:`dedup.neardup_components` —
    min-label propagation with pointer jumping and a convergence
    guarantee — because components are the same operator whether the
    nodes are near-dup docs or users."""
    from query_refinement_dsit_databases_2021_spark.operators import dedup

    # materialized once (r09): the self-join's two sides otherwise
    # each re-scan events and re-run the distinct
    b = materialize(
        events.select(
            "event_type",
            F.expr(
                f"unix_micros(CAST(ts AS TIMESTAMP)) DIV {CC_BUCKET_US}"
            ).alias("m"),
            "user_id",
        )
        .distinct()
    )
    x, y = b.alias("x"), b.alias("y")
    pairs = (
        x.join(
            y,
            (F.col("x.event_type") == F.col("y.event_type"))
            & (F.col("x.m") == F.col("y.m"))
            & (F.col("x.user_id") < F.col("y.user_id")),
        )
        .select(
            F.col("x.user_id").alias("doc_a"), F.col("y.user_id").alias("doc_b")
        )
        .distinct()
    )
    comp = dedup.neardup_components(pairs)
    return (
        comp.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .orderBy("cluster_id")
    )


def _wl_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from query_refinement_dsit_databases_2021_spark.workloads import register_views

    register_views(spark, sf_dir)
    return coactivity_components(spark.table("events"))


def _oracle_components(rounds: int = 48) -> str:
    parts = [
        f"""b AS (SELECT DISTINCT event_type,
            epoch_us(ts) // {CC_BUCKET_US} AS m, user_id FROM events)""",
        """sp AS MATERIALIZED (
  SELECT DISTINCT a.user_id AS doc_a, b2.user_id AS doc_b
  FROM b a JOIN b b2 ON a.event_type = b2.event_type AND a.m = b2.m
                    AND a.user_id < b2.user_id)""",
        """edges AS MATERIALIZED (
  SELECT doc_a AS a, doc_b AS b FROM sp
  UNION ALL SELECT doc_b, doc_a FROM sp)""",
        "l0 AS MATERIALIZED (SELECT DISTINCT a AS n, a AS l FROM edges)",
    ]
    for i in range(rounds):
        # MATERIALIZED prevents DuckDB's default CTE inlining from
        # exponentially expanding the per-round double reference
        parts.append(
            f"""l{i + 1} AS MATERIALIZED (
  SELECT n, min(l) AS l FROM (
    SELECT n, l FROM l{i}
    UNION ALL
    SELECT e.a AS n, x.l FROM edges e JOIN l{i} x ON x.n = e.b)
  GROUP BY n)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f""",
chg AS (SELECT count(*) AS c FROM l{rounds} a JOIN l{rounds - 1} b USING (n)
        WHERE a.l <> b.l),
lbl AS (SELECT n,
               CASE WHEN (SELECT c FROM chg) > 0
                    THEN error('components oracle unconverged at {rounds} rounds')
                    ELSE l END AS cluster_id
        FROM l{rounds})
SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_nodes
FROM lbl GROUP BY cluster_id ORDER BY cluster_id"""
    )


ORACLE_COMPONENTS = _oracle_components()


def bfs_distances(
    edges: DataFrame, sources: DataFrame | None, max_iters: int = 50
) -> DataFrame:
    """Unweighted shortest-path distances (BFS levels) from a source
    set over an undirected edge list — min-plus label propagation:
    each round every node takes ``min(own dist, neighbor dist + 1)``,
    run until a fixpoint round changes nothing (the distance sum is
    monotone non-increasing once a node is reached, and the reached
    set only grows, so ``(count, sum)`` stabilizing IS convergence).
    Rounds = graph diameter; each is one :func:`_fixpoint` round of
    one equi-join + one groupBy. ``max_iters`` bounds the rounds that
    still reach or shorten something; one more round confirms.

    ``edges``: ``(src, dst)`` (canonicalized to undirected here);
    ``sources``: ``(node)`` at distance 0, or ``None`` for "the
    graph's minimum node id" — computed from the already-materialized
    canonical frame, so callers wanting that common source don't
    re-evaluate their whole edge derivation for one scalar (r10: the
    bfs workload's source probe alone cost 0.7 s of its 4.0 s).
    Returns ``(node, dist)`` for every REACHED node; unreached nodes
    are absent by contract.

    r10 canonicalize-then-explode (guide §2.3 — shuffle fewer bytes):
    the symmetric closure used to explode BOTH directions and then
    ``distinct`` — an exchange and a checkpoint of 2m rows. The
    distinct now runs on the canonical (min, max) orientation (m
    rows — half the exchange and half the materialized bytes) and the
    symmetric explode happens map-side AFTER the checkpoint, inside
    the loop plan. Min-plus propagation is insensitive to the
    duplicate (s, s) rows a self-loop contributes, so results are
    identical (pinned by the self-loop case in the unit tests).
    """
    # self-loops kept: sources=None is the minimum id of the graph
    # including nodes whose only edge is a self-loop
    canon = materialize(_undirected(edges, keep_loops=True))
    if sources is None:
        sources = canon.agg(F.min("a").alias("node"))
    dist = sources.select(F.col("node"), F.lit(0).cast("long").alias("dist"))
    return _min_plus_bfs(_adjacency(canon), dist, ["node"], max_iters)


def _min_plus_bfs(
    adj: DataFrame, dist: DataFrame, keys: list[str], max_iters: int
) -> DataFrame:
    """The min-plus BFS loop of :func:`bfs_distances` and
    :func:`_bfs_distances_multi`: ``dist`` is the seeded frontier
    ``(*keys, dist)`` with ``keys`` ending in ``node``; each round every
    key takes ``min(own dist, neighbor dist + 1)`` over ``adj``, until
    the ``(count, sum)`` probe stops changing."""

    def step(d: DataFrame) -> DataFrame:
        return (
            adj.join(d, adj.n == d.node)
            .select(
                *keys[:-1],
                F.col("nb").alias("node"),
                (F.col("dist") + 1).alias("dist"),
            )
            .unionByName(d.select(*keys, "dist"))
            .groupBy(*keys)
            .agg(F.min("dist").alias("dist"))
        )

    return _fixpoint(dist, step, max_iters + 1, "bfs_distances", F.sum("dist"))


def _bfs_distances_multi(
    edges: DataFrame, seeds, max_iters: int = 50
) -> DataFrame:
    """Multi-source :func:`bfs_distances`: ONE min-plus loop keyed by
    ``(seed, node)`` instead of one full BFS loop per seed (r09, guide
    §1.2 — per-seed loops cost rounds × 2 eager jobs EACH; the
    harmonic workload ran 4 of them sequentially). Distances are
    identical to per-seed BFS: min-plus updates are independent per
    seed key, and the global ``(count, sum)`` fixpoint is reached
    exactly when every per-seed fixpoint is (updates are monotone per
    key). Returns ``(seed, node, dist)`` for reached pairs.

    ``seeds``: iterable of node ids (plan-time literals, like the
    sampled-seed contract of :func:`harmonic_centrality_sampled`).
    """
    canon = materialize(_undirected(edges, keep_loops=True))
    dist = edges.sparkSession.createDataFrame(
        [(int(s), int(s), 0) for s in seeds], "seed long, node long, dist long"
    )
    return _min_plus_bfs(_adjacency(canon), dist, ["seed", "node"], max_iters)


def _wl_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS level histogram over the supplier co-occurrence graph from
    its minimum-id supplier — ``(dist, n_nodes)``."""
    edges = _cosupplier_edges(spark, sf_dir)
    # sources=None: BFS from the graph's min node, computed off the
    # operator's materialized canonical frame — the explicit source
    # probe re-ran the whole co-occurrence self-join for one scalar
    # (r10, measured 0.7 s of the 4.0 s workload)
    dist = bfs_distances(edges, None)
    return (
        dist.groupBy("dist")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .orderBy("dist")
    )


def _bfs_oracle(rounds: int = 24) -> str:
    parts = [
        """sp AS MATERIALIZED (
  SELECT DISTINCT a.l_suppkey AS a, b.l_suppkey AS b
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey)""",
        """edges AS MATERIALIZED (
  SELECT a, b FROM sp UNION ALL SELECT b, a FROM sp)""",
        """d0 AS MATERIALIZED (
  SELECT min(least(a, b)) AS n, CAST(0 AS BIGINT) AS d FROM sp)""",
    ]
    for i in range(rounds):
        parts.append(
            f"""d{i + 1} AS MATERIALIZED (
  SELECT n, min(d) AS d FROM (
    SELECT n, d FROM d{i}
    UNION ALL
    SELECT e.b AS n, x.d + 1 AS d FROM edges e JOIN d{i} x ON x.n = e.a)
  GROUP BY n)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f""",
chg AS (SELECT (SELECT count(*) FROM d{rounds}) -
               (SELECT count(*) FROM d{rounds - 1}) AS c),
fin AS (SELECT n,
               CASE WHEN (SELECT c FROM chg) > 0
                    THEN error('bfs oracle unconverged at {rounds} rounds')
                    ELSE d END AS d
        FROM d{rounds})
SELECT d AS dist, CAST(count(*) AS BIGINT) AS n_nodes
FROM fin GROUP BY d ORDER BY dist"""
    )


ORACLE_BFS = _bfs_oracle()


def personalized_pagerank(
    edges: DataFrame, seeds: DataFrame, iterations: int = PR_ITERATIONS
) -> DataFrame:
    """Personalized PageRank: identical integer fixed-point loop to
    :func:`pagerank`, but ALL teleport mass returns to the ``seeds``
    set — ranks then measure proximity TO the seeds, the
    related-items/recommendation primitive (random walk with restart).
    Seeds start with ``INIT_MASS``, everything else 0; each iteration
    a seed receives the fixed ``TELEPORT`` units, non-seeds only
    in-neighbor mass. Same exactness argument as pagerank: every
    quantity is int64, so summation order and partitioning cannot
    change a single unit.

    One shuffle per iteration (groupBy dst) + a broadcast of the
    (tiny) seed set into the rank projection. Returns ``(node,
    rank)``.
    """
    return _rank_fixed_point(edges, iterations, seeds)


PPR_N_SEEDS = 2


def _wl_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from query_refinement_dsit_databases_2021_spark.workloads import register_views

    register_views(spark, sf_dir)
    edges = _trade_edges(spark)
    seeds = _nodes(edges).orderBy("node").limit(PPR_N_SEEDS)
    ranks = personalized_pagerank(edges, seeds, PR_ITERATIONS)
    return (
        ranks.where(F.col("rank") > 0)
        .orderBy(F.col("rank").desc(), F.col("node"))
        .limit(20)
    )


def _ppr_oracle(iterations: int = PR_ITERATIONS) -> str:
    parts = [
        f"WITH edges AS ({_EDGES_SQL}),",
        "nodes AS (SELECT src AS node FROM edges"
        " UNION SELECT dst FROM edges),",
        f"seeds AS (SELECT node FROM nodes ORDER BY node LIMIT {PPR_N_SEEDS}),",
        "deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),",
        f"""r0 AS (SELECT n.node,
         CAST(CASE WHEN s.node IS NOT NULL THEN {INIT_MASS} ELSE 0 END
              AS BIGINT) AS rank
         FROM nodes n LEFT JOIN seeds s ON s.node = n.node)""",
    ]
    for k in range(1, iterations + 1):
        parts.append(
            f""",
c{k} AS (SELECT e.dst AS node,
         CAST(SUM((85 * r.rank // 100) // d.outdeg) AS BIGINT) AS c
         FROM edges e
         JOIN r{k-1} r ON r.node = e.src
         JOIN deg d ON d.src = e.src
         GROUP BY e.dst),
r{k} AS (SELECT n.node,
         CAST(CASE WHEN s.node IS NOT NULL THEN {TELEPORT} ELSE 0 END
              + COALESCE(c.c, 0) AS BIGINT) AS rank
         FROM nodes n
         LEFT JOIN c{k} c ON c.node = n.node
         LEFT JOIN seeds s ON s.node = n.node)"""
        )
    parts.append(
        f"""
SELECT node, rank FROM r{iterations} WHERE rank > 0
ORDER BY rank DESC, node LIMIT 20"""
    )
    return "\n".join(parts)


ORACLE_PPR = _ppr_oracle()


def link_prediction(edges: DataFrame, k: int = 20) -> DataFrame:
    """Link prediction by common-neighbor count + Jaccard coefficient:
    for every NON-adjacent pair sharing >= 1 neighbor, score
    ``cn = |N(a) ∩ N(b)|`` and ``jacc_ppm = floor(1e6 * cn /
    (deg(a) + deg(b) - cn))`` — the classic unsupervised
    link-prediction baselines (Liben-Nowell & Kleinberg 2003),
    all-integer so the ranking is bit-identical across engines and
    partitionings.

    Plan: wedge enumeration — one self-join of the bidirectional
    adjacency list on the center node (cost Σ_c deg(c)², the standard
    bound), ONE map-combinable groupBy(a,b) for cn, a left-anti join
    against the existing edge set, two degree joins, and a global
    top-k (TakeOrderedAndProject). At 100 TB the refinement is the
    same as triangles: orient wedges from low- to high-degree
    endpoints (bounds work by arboricity) and/or cap the hub degree
    with a documented stop-list — hubs contribute wedges
    quadratically but their Jaccard is near-zero anyway.

    Returns ``(node_a, node_b, cn, jacc_ppm)``, top-k by
    (cn desc, node_a, node_b).
    """
    # canonical edge set materialized ONCE (r09): it feeds the two
    # wedge arms, the degree table and the anti-join — lazily that was
    # 7 evaluations of the caller's edge derivation; the symmetric
    # adjacency is a map-side explode over the materialized frame
    und = materialize(_undirected(edges))
    adj = _adjacency(und)
    w1 = adj.select(F.col("n").alias("c"), F.col("nb").alias("a"))
    w2 = adj.select(F.col("n").alias("c"), F.col("nb").alias("b"))
    cn = (
        w1.join(w2, (w1.c == w2.c) & (F.col("a") < F.col("b")))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("cn"))
    )
    non_edges = cn.join(und, ["a", "b"], "left_anti")
    deg = _degrees(und)
    da = deg.select(F.col("n").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("n").alias("b"), F.col("d").alias("db"))
    return (
        non_edges.join(da, "a")
        .join(db, "b")
        .select(
            F.col("a").alias("node_a"),
            F.col("b").alias("node_b"),
            F.col("cn").cast("long").alias("cn"),
            F.expr("CAST((1000000 * cn) DIV (da + db - cn) AS BIGINT)").alias(
                "jacc_ppm"
            ),
        )
        .orderBy(F.desc("cn"), "node_a", "node_b")
        .limit(k)
    )


LINK_PRED_MIN_QTY = 45  # bulk co-purchases only: keeps the graph
# sparse at every SF (the full co-occurrence graph is near-complete on
# this synthetic data, which would leave zero non-adjacent pairs)


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bulk co-purchase part graph ``(src, dst)``, ``src < dst``: two
    parts are linked when one order has a line of each with quantity
    >= ``LINK_PRED_MIN_QTY``."""
    from query_refinement_dsit_databases_2021_spark.workloads import register_views

    register_views(spark, sf_dir)
    li = spark.table("lineitem").where(
        F.col("l_quantity") >= LINK_PRED_MIN_QTY
    ).select("l_orderkey", "l_partkey")
    r = li.select(F.col("l_orderkey").alias("o2"), F.col("l_partkey").alias("p2"))
    return li.join(r, (li.l_orderkey == r.o2) & (li.l_partkey < r.p2)).select(
        F.col("l_partkey").alias("src"), F.col("p2").alias("dst")
    )


def _wl_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-sell candidates: parts that share bulk-order neighbors
    but are never bulk-ordered together."""
    return link_prediction(_copurchase_edges(spark, sf_dir))


ORACLE_LINK_PREDICTION = f"""
WITH li AS (
  SELECT l_orderkey, l_partkey FROM lineitem
  WHERE l_quantity >= {LINK_PRED_MIN_QTY}),
sp AS (
  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
adj AS (SELECT a AS n, b AS nb FROM sp UNION ALL SELECT b, a FROM sp),
cn AS (
  SELECT w1.nb AS a, w2.nb AS b, CAST(count(*) AS BIGINT) AS cn
  FROM adj w1 JOIN adj w2 ON w1.n = w2.n AND w1.nb < w2.nb
  GROUP BY w1.nb, w2.nb),
ne AS (
  SELECT cn.* FROM cn
  WHERE NOT EXISTS (SELECT 1 FROM sp WHERE sp.a = cn.a AND sp.b = cn.b)),
deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY n)
SELECT ne.a AS node_a, ne.b AS node_b, ne.cn AS cn,
       CAST((1000000 * ne.cn) // (da.d + db.d - ne.cn) AS BIGINT) AS jacc_ppm
FROM ne JOIN deg da ON da.n = ne.a JOIN deg db ON db.n = ne.b
ORDER BY cn DESC, node_a, node_b LIMIT 20"""


def resource_allocation(edges: DataFrame, k: int = 20) -> DataFrame:
    """Link prediction by the Resource-Allocation index (Zhou, Lü &
    Zhang 2009): for every NON-adjacent pair sharing ≥ 1 neighbor,
    ``ra = Σ_{c ∈ N(a)∩N(b)} 1/deg(c)`` — the center-weighted
    refinement of :func:`link_prediction`'s common-neighbor count that
    discounts hub-mediated wedges (a shared million-degree hub carries
    ~0 evidence; a shared degree-2 node carries 1/2). Adamic–Adar's
    ``1/ln(deg)`` is float-transcendental and engine-divergent; RA's
    ``1/deg`` keeps the repo's all-integer contract:
    ``ra_ppm = Σ floor(1e6 / deg(c))`` — exact, bit-identical across
    engines and partitionings.

    Plan: the same Σ deg(c)² wedge enumeration as
    :func:`link_prediction` with the CENTER degree broadcast-joined
    before the (a, b) rollup (so the per-wedge weight is map-side),
    one map-combinable groupBy, a left-anti join against the edge
    set, and a global top-k. The 100 TB refinement is identical —
    orient/cap hubs — and RA needs it LESS: capped hubs change
    near-zero-weight wedges only.

    Returns ``(node_a, node_b, cn, ra_ppm)``, top-k by
    (ra_ppm desc, node_a, node_b).
    """
    # same materialize-once treatment as :func:`link_prediction` (r09)
    und = materialize(_undirected(edges))
    adj = _adjacency(und)
    deg = _degrees(und)
    w1 = adj.select(F.col("n").alias("c"), F.col("nb").alias("a"))
    w2 = adj.select(F.col("n").alias("c"), F.col("nb").alias("b"))
    scores = (
        w1.join(w2, (w1.c == w2.c) & (F.col("a") < F.col("b")))
        .join(F.broadcast(deg.select(F.col("n").alias("c"), "d")), "c")
        .groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).alias("cn"),
            F.sum(F.expr("1000000 div d")).alias("ra_ppm"),
        )
    )
    non_edges = scores.join(und, ["a", "b"], "left_anti")
    return (
        non_edges.select(
            F.col("a").alias("node_a"),
            F.col("b").alias("node_b"),
            F.col("cn").cast("long").alias("cn"),
            F.col("ra_ppm").cast("long").alias("ra_ppm"),
        )
        .orderBy(F.desc("ra_ppm"), "node_a", "node_b")
        .limit(k)
    )


def _wl_resource_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-sell candidates, hub-discounted: same bulk co-purchase
    graph as ``graph_link_prediction``, scored by RA instead of raw
    common-neighbor count."""
    return resource_allocation(_copurchase_edges(spark, sf_dir))


ORACLE_RESOURCE_ALLOC = f"""
WITH li AS (
  SELECT l_orderkey, l_partkey FROM lineitem
  WHERE l_quantity >= {LINK_PRED_MIN_QTY}),
sp AS (
  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
adj AS (SELECT a AS n, b AS nb FROM sp UNION ALL SELECT b, a FROM sp),
deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY n),
sc AS (
  SELECT w1.nb AS a, w2.nb AS b, CAST(count(*) AS BIGINT) AS cn,
         CAST(sum(1000000 // deg.d) AS BIGINT) AS ra_ppm
  FROM adj w1 JOIN adj w2 ON w1.n = w2.n AND w1.nb < w2.nb
  JOIN deg ON deg.n = w1.n
  GROUP BY w1.nb, w2.nb),
ne AS (
  SELECT sc.* FROM sc
  WHERE NOT EXISTS (SELECT 1 FROM sp WHERE sp.a = sc.a AND sp.b = sc.b))
SELECT a AS node_a, b AS node_b, cn, ra_ppm
FROM ne ORDER BY ra_ppm DESC, node_a, node_b LIMIT 20"""


def clustering_coefficient(edges: DataFrame) -> DataFrame:
    """Global clustering coefficient: ``3·triangles / wedges`` — the
    fraction of open two-paths that close, the second one-number
    structural fingerprint next to :func:`degree_assortativity`.
    Triangle count reuses :func:`triangle_count`'s oriented two-join;
    the wedge count is the closed form ``Σ_c deg(c)·(deg(c)−1)/2``
    over the degree table (never enumerated). All integers; the
    coefficient is ppm by int64 division.

    Returns one row ``(n_wedges, n_triangles, clustering_ppm)``.
    """
    # materialize once (r09): und feeds the wedge count AND the
    # triangle enumeration — lazily the edge derivation ran twice
    und = materialize(_undirected(edges))
    wedges = _degrees(und).agg(
        F.sum(F.expr("d * (d - 1) DIV 2")).cast("long").alias("n_wedges")
    )
    # coalesce: a triangle-free graph yields an EMPTY corner frame, so
    # the sum is NULL, not 0. The canonical frame is shared (r10): und
    # is already (a<b, distinct, materialized), so triangle_count
    # skips its own canonicalize+materialize pass.
    tri = triangle_count(edges, und=und).agg(
        F.expr("CAST(coalesce(sum(n_triangles), 0) DIV 3 AS BIGINT)").alias(
            "n_triangles"
        )
    )
    return wedges.crossJoin(tri).select(
        "n_wedges",
        "n_triangles",
        F.expr(
            "CASE WHEN n_wedges > 0 THEN (1000000 * 3 * n_triangles)"
            " DIV n_wedges ELSE 0 END"
        ).cast("long").alias("clustering_ppm"),
    )


def _wl_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    return clustering_coefficient(_copurchase_edges(spark, sf_dir))


ORACLE_CLUSTERING = f"""
WITH sp AS (
  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  WHERE a.l_quantity >= {LINK_PRED_MIN_QTY}
    AND b.l_quantity >= {LINK_PRED_MIN_QTY}),
deg AS (
  SELECT n, count(*) AS d FROM (
    SELECT a AS n FROM sp UNION ALL SELECT b FROM sp) t GROUP BY n),
w AS (SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) AS n_wedges FROM deg),
tri AS (
  SELECT CAST(count(*) AS BIGINT) AS n_triangles
  FROM sp e1 JOIN sp e2 ON e2.a = e1.b
  JOIN sp e3 ON e3.a = e1.a AND e3.b = e2.b)
SELECT w.n_wedges, tri.n_triangles,
       CAST(CASE WHEN w.n_wedges > 0
                 THEN (1000000 * 3 * tri.n_triangles) // w.n_wedges
                 ELSE 0 END AS BIGINT) AS clustering_ppm
FROM w, tri"""


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002): the Pearson
    correlation of end-point degrees over all (bidirectional) edges —
    positive = hubs link hubs (social nets), negative = hub-and-spoke
    (tech/infrastructure). The one-number structural fingerprint a
    graph-health dashboard tracks across snapshots.

    Exactness: the five Pearson moments (Σx, Σy, Σxy, Σx², Σy², n)
    are exact int64 sums over integer degrees; the closed form is ONE
    identical IEEE expression on both engines, floor-quantized at 6
    dp (the cross_correlation contract). Int64 headroom:
    edges·max_deg² — pre-scale past ~10⁹ edge-ends at deg ≤ 10⁴.

    Plan: one degree groupBy + two broadcast-ish joins of the degree
    table onto the edge list + ONE map-combinable moment aggregate.
    Returns one row ``(n_ends, assortativity)``.
    """
    # materialized once: und feeds the degree table and the adjacency
    und = materialize(_undirected(edges))
    adj = _adjacency(und)
    deg = _degrees(und)
    dx = deg.select(F.col("n"), F.col("d").alias("x"))
    dy = deg.select(F.col("n").alias("nb"), F.col("d").alias("y"))
    m = (
        adj.join(dx, "n")
        .join(dy, "nb")
        .agg(
            F.count(F.lit(1)).alias("n_ends"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
        )
    )
    num = F.col("n_ends") * F.col("sxy") - F.col("sx") * F.col("sy")
    vx = F.col("n_ends") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n_ends") * F.col("syy") - F.col("sy") * F.col("sy")
    r = F.when(
        (vx > 0) & (vy > 0),
        F.floor(
            num / F.sqrt(vx.cast("double") * vy.cast("double")) * F.lit(1000000)
            + F.lit(0.5)
        )
        / F.lit(1000000.0),
    )
    return m.select("n_ends", r.alias("assortativity"))


def _wl_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return degree_assortativity(_copurchase_edges(spark, sf_dir))


ORACLE_ASSORTATIVITY = f"""
WITH sp AS (
  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  WHERE a.l_quantity >= {LINK_PRED_MIN_QTY}
    AND b.l_quantity >= {LINK_PRED_MIN_QTY}),
adj AS (SELECT a AS n, b AS nb FROM sp UNION ALL SELECT b, a FROM sp),
deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY n),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n_ends,
         CAST(sum(dx.d) AS BIGINT) AS sx,
         CAST(sum(dy.d) AS BIGINT) AS sy,
         CAST(sum(dx.d * dy.d) AS BIGINT) AS sxy,
         CAST(sum(dx.d * dx.d) AS BIGINT) AS sxx,
         CAST(sum(dy.d * dy.d) AS BIGINT) AS syy
  FROM adj JOIN deg dx ON dx.n = adj.n JOIN deg dy ON dy.n = adj.nb)
SELECT n_ends,
       CASE WHEN n_ends * sxx - sx * sx > 0 AND n_ends * syy - sy * sy > 0
            THEN floor((n_ends * sxy - sx * sy)
                 / sqrt(CAST(n_ends * sxx - sx * sx AS DOUBLE)
                        * CAST(n_ends * syy - sy * sy AS DOUBLE))
                 * 1000000 + 0.5) / 1000000.0 END AS assortativity
FROM m"""


KCORE_K = 3


def kcore(
    edges: DataFrame, k: int = KCORE_K, max_iters: int = 50
) -> DataFrame:
    """K-core decomposition by iterative peeling: repeatedly remove
    nodes with degree < k among the survivors until a fixpoint — what
    remains is the maximal subgraph where every node keeps >= k
    neighbors (the dense-backbone extractor: spam/influencer
    filtering, community seeding; Seidman 1983). Rounds needed = the
    peel depth, typically ~log of the degree spread.

    Per :func:`_fixpoint` round: two semi-joins restrict the adjacency
    list to the survivors (both endpoints), one map-combinable groupBy
    recomputes degrees, an integer filter keeps ``d >= k``. The loop
    state is the survivors' ``(n, d)``, so the result is the last
    round's state. Convergence is the survivor COUNT stabilizing —
    valid because the alive set only shrinks. All integers; the peeled
    set is unique regardless of removal order (standard k-core
    property), so partitioning cannot change it.

    Returns ``(node, core_degree)`` for the k-core members — degrees
    measured inside the core.
    """
    und = materialize(_undirected(edges))
    adj = _adjacency(und)

    def step(nd: DataFrame) -> DataFrame:
        alive = nd.select("n")
        return (
            adj.join(alive, "n", "leftsemi")
            .join(alive.select(F.col("n").alias("nb")), "nb", "leftsemi")
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("d"))
            .where(F.col("d") >= k)
        )

    core = _fixpoint(_degrees(und), step, max_iters, "kcore")
    return core.select(
        F.col("n").alias("node"), F.col("d").cast("long").alias("core_degree")
    ).orderBy("node")


def _wl_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    return kcore(_copurchase_edges(spark, sf_dir))


def _kcore_oracle(k: int = KCORE_K, rounds: int = 16) -> str:
    parts = [
        f"""sp AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  WHERE a.l_quantity >= {LINK_PRED_MIN_QTY}
    AND b.l_quantity >= {LINK_PRED_MIN_QTY})""",
        """edges AS MATERIALIZED (
  SELECT a, b FROM sp UNION ALL SELECT b, a FROM sp)""",
        "a0 AS MATERIALIZED (SELECT DISTINCT a AS n FROM edges)",
    ]
    for i in range(rounds):
        parts.append(
            f"""a{i + 1} AS MATERIALIZED (
  SELECT n FROM (
    SELECT e.a AS n, count(*) AS d
    FROM edges e JOIN a{i} x ON x.n = e.a JOIN a{i} y ON y.n = e.b
    GROUP BY e.a)
  WHERE d >= {k})"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f""",
chg AS (SELECT (SELECT count(*) FROM a{rounds - 1}) -
               (SELECT count(*) FROM a{rounds}) AS c)
SELECT e.a AS node,
       CASE WHEN (SELECT c FROM chg) > 0
            THEN error('kcore oracle unconverged at {rounds} rounds')
            ELSE CAST(count(*) AS BIGINT) END AS core_degree
FROM edges e
JOIN a{rounds} x ON x.n = e.a
JOIN a{rounds} y ON y.n = e.b
GROUP BY e.a ORDER BY node"""
    )


ORACLE_KCORE = _kcore_oracle()


LPA_ROUNDS = 3


def label_propagation(edges: DataFrame, rounds: int = LPA_ROUNDS) -> DataFrame:
    """Community detection by SYNCHRONOUS label propagation (Raghavan
    et al. 2007, determinized): labels start as node ids; each round
    every node adopts the most frequent label among its neighbors
    (ties → smallest label), all nodes updating from the SAME previous
    round — so the result is a pure function of the graph, independent
    of partitioning and visit order (the async variant the paper
    describes is famously order-dependent; the sync variant is the one
    a distributed engine can make reproducible). A fixed round count
    keeps the oracle an unrolled CTE chain.

    Per :func:`_propagate` round: every node sends its label to its
    neighbors, one map-combinable groupBy(node, label) counts them and
    one argmax window per node folds the counts into the next labels.
    All counts integer; tie-break total. The label broadcast is 1.26×
    at 30M edges / 3M nodes (the groupBy(node, label) shuffle after
    the join runs either way).

    Returns ``(node, label)`` after ``rounds`` rounds.
    """
    adj = materialize(_adjacency(_undirected(edges)))
    labels = (
        adj.select(F.col("n").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
        .localCheckpoint(eager=False)
    )
    n = labels.count()
    w = Window.partitionBy("node").orderBy(F.desc("cnt"), F.asc("m"))

    def fold(counts: DataFrame) -> DataFrame:
        return (
            counts.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select("node", F.col("m").alias("label"))
        )

    for _ in range(rounds):
        labels = _propagate(
            adj, labels, F.col("label"), F.count(F.lit(1)).alias("cnt"), fold, n,
            send="nb", recv="n", by=("m",),
        )
    return labels


def _wl_lpa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Communities in the bulk co-purchase graph (same sparsified
    graph as link prediction / k-core)."""
    edges = _copurchase_edges(spark, sf_dir)
    return label_propagation(edges).orderBy("node")


def _lpa_oracle(rounds: int = LPA_ROUNDS) -> str:
    parts = [
        f"""sp AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  WHERE a.l_quantity >= {LINK_PRED_MIN_QTY}
    AND b.l_quantity >= {LINK_PRED_MIN_QTY})""",
        """adj AS MATERIALIZED (
  SELECT a AS n, b AS nb FROM sp UNION ALL SELECT b, a FROM sp)""",
        "l0 AS (SELECT DISTINCT n AS node, n AS label FROM adj)",
    ]
    for i in range(rounds):
        parts.append(
            f"""l{i + 1} AS MATERIALIZED (
  SELECT n AS node, label FROM (
    SELECT c.n, c.label,
           row_number() OVER (PARTITION BY c.n
               ORDER BY c.cnt DESC, c.label) AS rn
    FROM (SELECT a.n, l.label, count(*) AS cnt
          FROM adj a JOIN l{i} l ON a.nb = l.node
          GROUP BY a.n, l.label) c)
  WHERE rn = 1)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT node, label FROM l{rounds} ORDER BY node"
    )


ORACLE_LPA = _lpa_oracle()


def modularity(edges: DataFrame, communities: DataFrame) -> DataFrame:
    """Newman modularity of a community assignment, exactly:
    ``Q = (1/(4m²)) · Σ_c (4m·e_c − d_c²)`` where ``e_c`` = intra-
    community edge count, ``d_c`` = total degree in c, ``m`` = edge
    count — the standard community-quality score, and the natural
    attestation for :func:`label_propagation`'s output (a partition
    with Q ≈ 0 is no better than random).

    All-integer: the score is returned as the exact rational
    ``(q_num, q_den) = (Σ_c (4m·e_c − d_c²), 4m²)`` plus ``q_ppm``
    computed with the FLOOR-division idiom ``(a − pmod(a, b)) div b``
    (q_num can be negative for anti-community partitions; Spark's
    ``div`` truncates toward zero while DuckDB's ``//`` floors — the
    pmod form makes both floor).

    Plan: one pass. Each canonical edge is tagged with both endpoint
    labels by broadcast left joins and exploded into its two endpoints
    (the first carries the intra-community flag); one groupBy(label)
    gives ``(e_in, d_tot)`` and one global aggregate gives ``m`` (half
    the endpoints, so it counts every edge), ``n_communities`` and
    ``q_num = 4m·Σe_in − Σd_tot²``. An unlabeled endpoint adds to
    neither sum, a label with no edges is no community, and an
    assignment with no community returns no row. Returns ``(m_edges,
    n_communities, q_num, q_den, q_ppm)``.
    """
    la = communities.select(F.col("node").alias("a"), F.col("label").alias("lab_a"))
    lb = communities.select(F.col("node").alias("b"), F.col("label").alias("lab_b"))
    ends = (
        _undirected(edges)
        .join(F.broadcast(la), "a", "left")
        .join(F.broadcast(lb), "b", "left")
        .select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("lab_a").alias("label"),
                        F.col("lab_a").eqNullSafe(F.col("lab_b")).cast("long").alias("inner"),
                    ),
                    F.struct(F.col("lab_b").alias("label"), F.lit(0).cast("long").alias("inner")),
                )
            ).alias("e")
        )
        .groupBy(F.col("e.label").alias("label"))
        .agg(F.sum("e.inner").alias("e_in"), F.count(F.lit(1)).alias("d_tot"))
    )
    labeled = F.col("label").isNotNull()
    return (
        ends.agg(
            F.expr("CAST(sum(d_tot) DIV 2 AS BIGINT)").alias("m_edges"),
            F.count("label").cast("long").alias("n_communities"),
            F.sum(F.when(labeled, F.col("e_in"))).alias("s_in"),
            F.sum(F.when(labeled, F.col("d_tot") * F.col("d_tot"))).alias("s_dd"),
        )
        .where(F.col("n_communities") > 0)
        .select(
            "m_edges",
            "n_communities",
            (F.lit(4) * F.col("m_edges") * F.col("s_in") - F.col("s_dd"))
            .cast("long")
            .alias("q_num"),
            (F.lit(4) * F.col("m_edges") * F.col("m_edges")).cast("long").alias("q_den"),
        )
        .select(
            "*",
            F.expr(
                "CAST((1000000 * q_num - pmod(1000000 * q_num, q_den))"
                " div q_den AS BIGINT)"
            ).alias("q_ppm"),
        )
    )


def _wl_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modularity attestation of the LPA communities on the bulk
    co-purchase graph — the number that says label propagation found
    structure, certified cross-engine."""
    edges = _copurchase_edges(spark, sf_dir)
    return modularity(edges, label_propagation(edges))


def _modularity_oracle(rounds: int = LPA_ROUNDS) -> str:
    lpa = _lpa_oracle(rounds)
    # reuse the LPA oracle's CTE chain; strip its final SELECT
    body = lpa[: lpa.rindex("\nSELECT node, label FROM")]
    return f"""{body},
labels AS (SELECT node, label FROM l{rounds}),
und AS (SELECT a, b FROM sp),
m_row AS (SELECT CAST(count(*) AS BIGINT) AS m FROM und),
ec AS (
  SELECT la.label, CAST(count(*) AS BIGINT) AS e_in
  FROM und JOIN labels la ON la.node = und.a
  JOIN labels lb ON lb.node = und.b
  WHERE la.label = lb.label GROUP BY la.label),
deg AS (
  SELECT n, CAST(count(*) AS BIGINT) AS d FROM
    (SELECT a AS n FROM und UNION ALL SELECT b FROM und)
  GROUP BY n),
dc AS (
  SELECT l.label, CAST(sum(d) AS BIGINT) AS d_tot
  FROM deg JOIN labels l ON l.node = deg.n GROUP BY l.label),
per_c AS (
  SELECT m, 4 * m * coalesce(e_in, 0) - d_tot * d_tot AS contrib
  FROM dc LEFT JOIN ec USING (label), m_row)
SELECT CAST(m AS BIGINT) AS m_edges,
       CAST(count(*) AS BIGINT) AS n_communities,
       CAST(sum(contrib) AS BIGINT) AS q_num,
       CAST(4 * m * m AS BIGINT) AS q_den,
       (1000000 * CAST(sum(contrib) AS BIGINT)) // (4 * m * m) AS q_ppm
FROM per_c GROUP BY m"""


ORACLE_MODULARITY = _modularity_oracle()


def copurchase_projection(lineitem: DataFrame, top_k: int = 25) -> DataFrame:
    """Bipartite projection of the order–part graph onto parts: two
    parts are linked when they appear in the same order; the edge
    weight is the number of co-orders. The item-item co-purchase graph
    is the substrate of neighborhood recommenders and of co-occurrence
    embeddings (this is :func:`~.textops` co-occurrence applied to a
    transaction table instead of token windows).

    Scale: NOT a self-join — each basket is collected as a sorted
    distinct array in one groupBy(order) and its d(d−1)/2 oriented
    pairs are enumerated IN-ROW by a higher-order function, so the
    whole projection is two map-combinable shuffles (basket agg, pair
    agg) and zero joins. Fan-out is bounded by basket size (≤7 in
    TPC-H), not corpus size; a pathological mega-basket would need the
    posting-cap used by ``dedup.ngram_jaccard_capped``. Returns the
    ``top_k`` pairs by (co_orders desc, pa, pb) — exact total order.
    """
    baskets = lineitem.groupBy(F.col("l_orderkey").alias("o")).agg(
        F.array_sort(F.collect_set("l_partkey")).alias("ps")
    )
    # (ps[i], ps[j]) for i < j: slice is 1-indexed, i is 0-indexed
    pairs = F.flatten(
        F.expr(
            "transform(ps, (x, i) -> transform("
            "slice(ps, i + 2, size(ps)), y -> struct(x AS pa, y AS pb)))"
        )
    )
    return (
        baskets.select(F.explode(pairs).alias("pr"))
        .select("pr.pa", "pr.pb")
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("co_orders"))
        .orderBy(F.desc("co_orders"), "pa", "pb")
        .limit(top_k)
    )


def _wl_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from query_refinement_dsit_databases_2021_spark.workloads import register_views

    register_views(spark, sf_dir)
    return copurchase_projection(spark.table("lineitem"))


def association_rules(lineitem: DataFrame, top_k: int = 20) -> DataFrame:
    """Market-basket association rules over the co-purchase pairs —
    support / confidence / lift as integer ppm, the recommender-and-
    curation readout on top of :func:`copurchase_projection`'s
    substrate (pair counts reuse the same in-row basket enumeration:
    two map-combinable shuffles, zero self-joins on the fact table).

    Determinism/overflow contract: every score is a chain of int64
    floor divisions — ``support_ppm = 1e6·n_ab div n_orders``,
    ``conf_ab_ppm = 1e6·n_ab div n_a`` (and the b→a mirror), and
    ``lift_ppm = (conf_ab_ppm · n_orders) div n_b`` — the NESTED form
    is the contract (exact lift up to the inner floor) because it
    keeps every intermediate ≤ 1e6·max(n) and so inside int64 at any
    corpus size, where the textbook single-expression form
    ``1e6·n_ab·n_orders / (n_a·n_b)`` needs 128-bit. Item counts join
    the pair table by key (dim-sized sides); the order count is a
    broadcast scalar. Returns the ``top_k`` rules by
    (lift_ppm DESC, pa, pb) — a total order since (pa, pb) is unique.
    """
    base = (
        lineitem.select(
            F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
        )
        .distinct()
    )
    item = base.groupBy("p").agg(F.count(F.lit(1)).alias("n_p"))
    norders = base.select(
        F.countDistinct("o").cast("long").alias("n_orders")
    )
    baskets = base.groupBy("o").agg(F.array_sort(F.collect_set("p")).alias("ps"))
    pairs = F.flatten(
        F.expr(
            "transform(ps, (x, i) -> transform("
            "slice(ps, i + 2, size(ps)), y -> struct(x AS pa, y AS pb)))"
        )
    )
    n_ab = (
        baskets.select(F.explode(pairs).alias("pr"))
        .select("pr.pa", "pr.pb")
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    scored = (
        n_ab.join(
            item.select(F.col("p").alias("pa"), F.col("n_p").alias("n_a")), "pa"
        )
        .join(
            item.select(F.col("p").alias("pb"), F.col("n_p").alias("n_b")), "pb"
        )
        .crossJoin(F.broadcast(norders))
        .select(
            "pa",
            "pb",
            "n_ab",
            F.expr("(1000000 * n_ab) div n_orders").alias("support_ppm"),
            F.expr("(1000000 * n_ab) div n_a").alias("conf_ab_ppm"),
            F.expr("(1000000 * n_ab) div n_b").alias("conf_ba_ppm"),
            F.expr(
                "(((1000000 * n_ab) div n_a) * n_orders) div n_b"
            ).alias("lift_ppm"),
        )
    )
    return scored.orderBy(F.desc("lift_ppm"), "pa", "pb").limit(top_k)


def _wl_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from query_refinement_dsit_databases_2021_spark.workloads import register_views

    register_views(spark, sf_dir)
    return association_rules(spark.table("lineitem"))


ORACLE_ASSOC_RULES = """
WITH base AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
no AS (SELECT CAST(count(DISTINCT o) AS BIGINT) AS n_orders FROM base),
item AS (SELECT p, CAST(count(*) AS BIGINT) AS n_p FROM base GROUP BY p),
pr AS (
  SELECT a.p AS pa, b.p AS pb, CAST(count(*) AS BIGINT) AS n_ab
  FROM base a JOIN base b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2)
SELECT pa, pb, n_ab,
       CAST((1000000 * n_ab) // n_orders AS BIGINT) AS support_ppm,
       CAST((1000000 * n_ab) // ia.n_p AS BIGINT) AS conf_ab_ppm,
       CAST((1000000 * n_ab) // ib.n_p AS BIGINT) AS conf_ba_ppm,
       CAST((((1000000 * n_ab) // ia.n_p) * n_orders) // ib.n_p AS BIGINT)
         AS lift_ppm
FROM pr JOIN item ia ON ia.p = pr.pa JOIN item ib ON ib.p = pr.pb, no
ORDER BY lift_ppm DESC, pa, pb LIMIT 20"""


ORACLE_COPURCHASE = """
WITH base AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem)
SELECT a.p AS pa, b.p AS pb, CAST(count(*) AS BIGINT) AS co_orders
FROM base a JOIN base b ON a.o = b.o AND a.p < b.p
GROUP BY a.p, b.p
ORDER BY co_orders DESC, pa, pb LIMIT 25"""


KATZ_INIT = 1_000_000  # integer unit mass per node
KATZ_ITERATIONS = 4


def katz_centrality(
    edges: DataFrame, iterations: int = KATZ_ITERATIONS
) -> DataFrame:
    """Katz centrality as the same integer fixed-iteration loop as
    :func:`pagerank` — the OTHER classic spectral centrality: no
    out-degree normalization, so a node is central for having many
    (and recursively central) in-neighbors regardless of how promiscuous
    they are; β = 1/2 applied as integer halving (``// 2``), exactly
    like PageRank's 85/100 damping, so the result is bit-reproducible
    under any partitioning.

    ``x_{k+1}(v) = INIT + (Σ_{u→v} x_k(u)) // 2`` — one
    :func:`_propagate` round per iteration, the iteration count part of
    the operator contract so the oracle unrolls it into a CTE chain.
    Returns the top 20 ``(node, katz)`` under a total order.
    """
    edges = materialize(edges.select("src", "dst").distinct())
    nodes = _nodes(edges).localCheckpoint(eager=False)
    n = nodes.count()

    def fold(c: DataFrame) -> DataFrame:
        return nodes.join(c, "node", "left").select(
            "node",
            (F.lit(KATZ_INIT) + F.expr("coalesce(c, 0L) div 2"))
            .cast("long")
            .alias("katz"),
        )

    x = nodes.select("node", F.lit(KATZ_INIT).cast("long").alias("katz"))
    for _ in range(iterations):
        x = _propagate(edges, x, F.col("katz"), F.sum("m").alias("c"), fold, n)
    return x.orderBy(F.desc("katz"), "node").limit(20)


def _wl_katz(spark: SparkSession, sf_dir: str) -> DataFrame:
    from query_refinement_dsit_databases_2021_spark.workloads import register_views

    register_views(spark, sf_dir)
    return katz_centrality(_trade_edges(spark))


def _katz_oracle(iterations: int = KATZ_ITERATIONS) -> str:
    parts = [
        f"WITH edges AS ({_EDGES_SQL}),",
        "nodes AS (SELECT src AS node FROM edges"
        " UNION SELECT dst FROM edges),",
        f"x0 AS (SELECT node, CAST({KATZ_INIT} AS BIGINT) AS katz FROM nodes)",
    ]
    for k in range(1, iterations + 1):
        parts.append(
            f""",
c{k} AS (SELECT e.dst AS node, CAST(SUM(x.katz) AS BIGINT) AS c
         FROM edges e JOIN x{k-1} x ON x.node = e.src
         GROUP BY e.dst),
x{k} AS (SELECT n.node,
         CAST({KATZ_INIT} + COALESCE(c.c, 0) // 2 AS BIGINT) AS katz
         FROM nodes n LEFT JOIN c{k} c ON c.node = n.node)"""
        )
    parts.append(
        f"""
SELECT node, katz FROM x{iterations}
ORDER BY katz DESC, node LIMIT 20"""
    )
    return "\n".join(parts)


ORACLE_KATZ = _katz_oracle()


def reciprocity(edges: DataFrame) -> DataFrame:
    """Directed-graph reciprocity — the third one-number structural
    fingerprint (after assortativity and the clustering coefficient):
    the fraction of directed edges whose reverse edge also exists.
    Trade graphs are near-zero (supply flows one way), social graphs
    high — a cheap sanity probe that a directed edge derivation did
    not silently symmetrize.

    One left-semi self-join on the reversed key; integer ppm ratio.
    Returns one row ``(n_edges, n_reciprocal, reciprocity_ppm)``.
    """
    e = edges.select("src", "dst").distinct()
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    recip = e.join(rev, ["src", "dst"], "left_semi")
    return (
        e.agg(F.count(F.lit(1)).alias("n_edges"))
        .crossJoin(recip.agg(F.count(F.lit(1)).alias("n_reciprocal")))
        .select(
            "n_edges",
            "n_reciprocal",
            F.expr("n_reciprocal * 1000000L div n_edges").alias(
                "reciprocity_ppm"
            ),
        )
    )


def _wl_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from query_refinement_dsit_databases_2021_spark.workloads import register_views

    register_views(spark, sf_dir)
    # user -> user "handoff" edges: consecutive events of the same
    # type passing between users give a directed interaction graph
    # with genuine two-way traffic (unlike the one-way trade edges)
    ev = spark.table("events")
    from pyspark.sql import Window as W

    w = W.partitionBy("event_type").orderBy("ts", "event_id")
    edges = (
        ev.select(
            "event_type", "ts", "event_id", F.col("user_id").alias("src")
        )
        .withColumn("dst", F.lag("src").over(w))
        .where(F.col("dst").isNotNull() & (F.col("dst") != F.col("src")))
        .select("src", "dst")
    )
    return reciprocity(edges)


ORACLE_RECIPROCITY = """
WITH seq AS (
  SELECT user_id AS src,
         lag(user_id) OVER (PARTITION BY event_type
                            ORDER BY ts, event_id) AS dst
  FROM events),
e AS (SELECT DISTINCT src, dst FROM seq
      WHERE dst IS NOT NULL AND dst <> src),
recip AS (
  SELECT e.src, e.dst FROM e
  WHERE EXISTS (SELECT 1 FROM e r
                WHERE r.src = e.dst AND r.dst = e.src))
SELECT (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
       (SELECT CAST(count(*) AS BIGINT) FROM recip) AS n_reciprocal,
       CAST((SELECT count(*) FROM recip) * 1000000
            // (SELECT count(*) FROM e) AS BIGINT) AS reciprocity_ppm"""


def degree_histogram(edges: DataFrame) -> DataFrame:
    """Out-degree distribution in power-of-two buckets — the
    log-log-plot shape that distinguishes heavy-tailed (scale-free)
    graphs from flat ones, and the number that sizes join-skew
    mitigations: the top bucket IS the salting candidate list.
    ``bucket = floor(log2(deg))`` computed exactly via the shared
    lowbit-free width trick (``bit_count`` of the propagated-bits
    mask would be overkill: ``length`` of the binary string is the
    dialect-free exact form both engines share).

    One degree groupBy + one bucket groupBy, both map-combinable.
    Returns ``(bucket, n_nodes, min_deg, max_deg)`` ordered by bucket.
    """
    deg = (
        edges.select("src", "dst")
        .distinct()
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # floor(log2(d)) for d >= 1 == (bit length of d) - 1; bin(d) via
    # conv/length is not shared, but bit_count of the filled mask is:
    # both engines compute it exactly with shifts... simplest shared
    # exact form: length of the base-2 string minus 1.
    bucket = (F.length(F.conv(F.col("deg").cast("string"), 10, 2)) - 1).alias(
        "bucket"
    )
    return (
        deg.select(bucket, "deg")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.min("deg").alias("min_deg"),
            F.max("deg").alias("max_deg"),
        )
        .orderBy("bucket")
    )


def _wl_degree_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from query_refinement_dsit_databases_2021_spark.workloads import register_views

    register_views(spark, sf_dir)
    return degree_histogram(_trade_edges(spark))


ORACLE_DEGREE_HIST = f"""
WITH e AS ({_EDGES_SQL}),
deg AS (
  SELECT src, CAST(count(*) AS BIGINT) AS deg
  FROM (SELECT DISTINCT src, dst FROM e) GROUP BY src)
SELECT CAST(length(bin(deg)) - 1 AS INTEGER) AS bucket,
       CAST(count(*) AS BIGINT) AS n_nodes,
       CAST(min(deg) AS BIGINT) AS min_deg,
       CAST(max(deg) AS BIGINT) AS max_deg
FROM deg GROUP BY 1 ORDER BY bucket"""


KTRUSS_K = 4  # every surviving edge must sit in >= K-2 triangles


def ktruss(
    edges: DataFrame, k: int = KTRUSS_K, max_iters: int = 30
) -> DataFrame:
    """K-truss decomposition by iterative EDGE peeling (Cohen 2008):
    repeatedly drop edges supported by fewer than ``k - 2`` triangles
    among the survivors until a fixpoint — the edge-level sibling of
    :func:`kcore` (every k-truss edge lies in the (k-1)-core, but the
    truss is strictly denser: it demands *closed* wedges, not just
    degree). The standard cohesive-subgraph extractor where k-core is
    too permissive — spam-ring and community-kernel mining.

    Per :func:`_fixpoint` round: one triangle enumeration over the
    surviving edge set (:func:`_triangles`, the same two-equi-join plan
    as :func:`triangle_count`'s wedge branch), an explode of each
    triangle into its three member edges, ONE map-combinable
    groupBy(a, b) for support, and an integer filter ``support >= k -
    2``. Convergence is the edge COUNT stabilizing — valid because the
    surviving set only shrinks, and the fixpoint is unique regardless
    of removal order (standard truss property), so partitioning
    cannot change the result. Rounds needed = peel depth (2-3 on the
    bulk co-purchase graph at every SF). At 100 TB the per-round
    refinement is the same as triangles: orient from low- to
    high-degree endpoints and cap hubs with a documented stop-list.

    Returns ``(node_a, node_b, support)`` for the k-truss edges —
    support measured inside the truss — ordered by (node_a, node_b).
    """

    def step(alive: DataFrame) -> DataFrame:
        return (
            _triangles(alive)
            .select(
                F.explode(
                    F.array(
                        F.struct("a", "b"),
                        F.struct(F.col("b").alias("a"), F.col("c").alias("b")),
                        F.struct("a", F.col("c").alias("b")),
                    )
                ).alias("e")
            )
            .select(F.col("e.a").alias("a"), F.col("e.b").alias("b"))
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("s"))
            .where(F.col("s") >= int(k) - 2)
        )

    sup = _fixpoint(_undirected(edges), step, max_iters, "ktruss")
    return sup.select(
        F.col("a").alias("node_a"),
        F.col("b").alias("node_b"),
        F.col("s").cast("long").alias("support"),
    ).orderBy("node_a", "node_b")


def _wl_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohesive cross-sell kernel: the 4-truss of the bulk co-purchase
    graph — every surviving part pair is co-bulk-ordered with >= 2
    common partners that are themselves bulk-linked."""
    return ktruss(_copurchase_edges(spark, sf_dir))


def _ktruss_oracle(k: int = KTRUSS_K, rounds: int = 6) -> str:
    """Unrolled bounded-round peel, kcore-oracle style: each round
    re-enumerates triangles over the previous survivor set and keeps
    edges with support >= k-2; a convergence guard errors if the last
    two rounds still differ (so an unconverged unroll can never pass
    the gate silently)."""
    parts = [
        f"""e0 AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  WHERE a.l_quantity >= {LINK_PRED_MIN_QTY}
    AND b.l_quantity >= {LINK_PRED_MIN_QTY})"""
    ]
    for i in range(rounds):
        parts.append(
            f"""t{i + 1} AS MATERIALIZED (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM e{i} e1 JOIN e{i} e2 ON e2.a = e1.b
  JOIN e{i} e3 ON e3.a = e1.a AND e3.b = e2.b)"""
        )
        parts.append(
            f"""s{i + 1} AS MATERIALIZED (
  SELECT a, b, count(*) AS s FROM (
    SELECT x AS a, y AS b FROM t{i + 1}
    UNION ALL SELECT y, z FROM t{i + 1}
    UNION ALL SELECT x, z FROM t{i + 1})
  GROUP BY a, b HAVING count(*) >= {k - 2})"""
        )
        parts.append(f"e{i + 1} AS MATERIALIZED (SELECT a, b FROM s{i + 1})")
    return (
        "WITH "
        + ",\n".join(parts)
        + f""",
chg AS (SELECT (SELECT count(*) FROM e{rounds - 1}) -
               (SELECT count(*) FROM e{rounds}) AS c)
SELECT a AS node_a, b AS node_b,
       CASE WHEN (SELECT c FROM chg) > 0
            THEN error('ktruss oracle unconverged at {rounds} rounds')
            ELSE CAST(s AS BIGINT) END AS support
FROM s{rounds} ORDER BY node_a, node_b"""
    )


ORACLE_KTRUSS = _ktruss_oracle()


def graph_workloads():
    from query_refinement_dsit_databases_2021_spark.workloads import Workload

    return [
        Workload("graph_degree_hist", _wl_degree_hist, ORACLE_DEGREE_HIST),
        Workload("graph_copurchase", _wl_copurchase, ORACLE_COPURCHASE),
        Workload("graph_assoc_rules", _wl_assoc_rules, ORACLE_ASSOC_RULES),
        Workload("graph_reciprocity", _wl_reciprocity, ORACLE_RECIPROCITY),
        Workload("graph_katz", _wl_katz, ORACLE_KATZ),
        Workload("graph_pagerank", _wl_pagerank, ORACLE_PAGERANK),
        Workload("graph_hits", _wl_hits, ORACLE_HITS),
        Workload("graph_harmonic", _wl_harmonic, ORACLE_HARMONIC),
        Workload("graph_triangles", _wl_triangles, ORACLE_TRIANGLES),
        Workload("graph_components", _wl_components, ORACLE_COMPONENTS),
        Workload("graph_bfs_levels", _wl_bfs, ORACLE_BFS),
        Workload(
            "graph_link_prediction", _wl_link_prediction, ORACLE_LINK_PREDICTION
        ),
        Workload(
            "graph_resource_alloc", _wl_resource_alloc, ORACLE_RESOURCE_ALLOC
        ),
        Workload("graph_personalized_pagerank", _wl_ppr, ORACLE_PPR),
        Workload("graph_kcore", _wl_kcore, ORACLE_KCORE),
        Workload("graph_ktruss", _wl_ktruss, ORACLE_KTRUSS),
        Workload(
            "graph_assortativity", _wl_assortativity, ORACLE_ASSORTATIVITY
        ),
        Workload("graph_clustering_coeff", _wl_clustering, ORACLE_CLUSTERING),
        Workload("graph_label_propagation", _wl_lpa, ORACLE_LPA),
        Workload("graph_modularity", _wl_modularity, ORACLE_MODULARITY),
    ]
