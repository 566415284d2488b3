"""Graph operators vs sequential Python references on hand-built graphs."""

import pytest

from query_refinement_dsit_databases_2021_spark.operators.graph import (
    INIT_MASS,
    TELEPORT,
    pagerank,
    triangle_count,
)

# a small directed graph with a dangling node (4), a hub (1), and a
# 2-cycle (2<->3)
EDGES = [(1, 2), (1, 3), (1, 4), (2, 3), (3, 2), (5, 1)]


def _pagerank_ref(edges, iterations):
    """Sequential fixed-point reference in pure Python ints."""
    edges = sorted(set(edges))
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    outdeg = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    rank = {n: INIT_MASS for n in nodes}
    for _ in range(iterations):
        contrib = {n: 0 for n in nodes}
        for s, d in edges:
            contrib[d] += (85 * rank[s] // 100) // outdeg[s]
        rank = {n: TELEPORT + contrib[n] for n in nodes}
    return rank


@pytest.mark.parametrize("iterations", [1, 3, 5])
def test_pagerank_matches_sequential_reference(spark, iterations):
    df = spark.createDataFrame(EDGES, "src long, dst long")
    got = {r.node: r["rank"] for r in pagerank(df, iterations).collect()}
    assert got == _pagerank_ref(EDGES, iterations)


def test_pagerank_mass_bounds(spark):
    # dangling node 4 never forwards mass; every node still holds at
    # least the teleport share and the system never creates mass
    df = spark.createDataFrame(EDGES, "src long, dst long")
    got = {r.node: r["rank"] for r in pagerank(df, 5).collect()}
    assert all(v >= TELEPORT for v in got.values())
    assert sum(got.values()) <= len(got) * INIT_MASS


def test_triangles_exact_on_known_graph(spark):
    # K4 on {1,2,3,4} (4 triangles, each node in 3) plus a pendant
    # edge 4-5 (no triangles) and a duplicated/reversed edge to prove
    # canonicalization
    k4 = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    edges = k4 + [(4, 5), (2, 1), (3, 1)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.n_triangles for r in triangle_count(df).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


@pytest.mark.parametrize(
    "rows", [[(1, 2), (2, 3), (1, 3), (3, 3)], [(1, 2), (2, 3), (1, 3), (2, 1)]]
)
def test_triangles_reject_non_canonical_und(spark, rows):
    """``und`` must hold ``a < b``: a self-loop or a reversed pair
    raises instead of corrupting degrees and counts."""
    und = spark.createDataFrame(rows, "a long, b long")
    with pytest.raises(ValueError, match="a >= b"):
        triangle_count(None, und=und)


def test_triangles_brute_force_cross_check(spark):
    # pseudo-random-ish but deterministic graph; brute-force O(n^3)
    edges = [((i * 7) % 11, (i * 5 + 3) % 11) for i in range(40)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.n_triangles for r in triangle_count(df).collect()}
    und = {tuple(sorted(e)) for e in edges}
    nodes = sorted({n for e in und for n in e})
    ref = {}
    for i, a in enumerate(nodes):
        for b in nodes[i + 1 :]:
            for c in nodes:
                if c <= b:
                    continue
                if (a, b) in und and (b, c) in und and (a, c) in und:
                    for n in (a, b, c):
                        ref[n] = ref.get(n, 0) + 1
    assert got == ref


def test_components_coactivity_wiring(spark):
    """The co-activity pair derivation + component summary: users in
    the same 30s/type bucket link; distinct components stay apart;
    edgeless users are not reported."""
    from datetime import datetime, timedelta

    from query_refinement_dsit_databases_2021_spark.operators.graph import (
        coactivity_components,
    )

    base = datetime(2024, 3, 1, 12, 0, 0)
    rows = []
    # bucket A: users 1,2,3 same 30s window + type -> one component
    for i, u in enumerate((1, 2, 3)):
        rows.append((i, base + timedelta(seconds=i * 5), u, "click", 0.0, "{}"))
    # bucket B: users 7,8 in a far window -> second component
    for i, u in enumerate((7, 8)):
        rows.append((10 + i, base + timedelta(hours=2, seconds=i), u, "view", 0.0, "{}"))
    # user 9: alone in its bucket -> no edges, not reported
    rows.append((20, base + timedelta(hours=5), 9, "click", 0.0, "{}"))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, "
              "value double, props string"
    )
    got = {r["cluster_id"]: r["n_nodes"] for r in coactivity_components(df).collect()}
    assert got == {1: 3, 7: 2}


def test_bfs_levels_path_graph_and_unreached(spark):
    from query_refinement_dsit_databases_2021_spark.operators.graph import (
        bfs_distances,
    )

    # path 1-2-3-4-5 plus a separate component {8,9}: from source 1,
    # levels are exact path distances and 8/9 are absent
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (8, 9)], "src long, dst long"
    )
    src = spark.createDataFrame([(1,)], "node long")
    got = {r["node"]: r["dist"] for r in bfs_distances(edges, src).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: 3, 5: 4}

    # multi-source: min distance to EITHER source; a cycle shortcut
    src2 = spark.createDataFrame([(1,), (5,)], "node long")
    got2 = {r["node"]: r["dist"] for r in bfs_distances(edges, src2).collect()}
    assert got2 == {1: 0, 2: 1, 3: 2, 4: 1, 5: 0}

    # r10 canonicalize-then-explode must be insensitive to self-loops
    # and reversed duplicates, and sources=None means "min graph node"
    edges3 = spark.createDataFrame(
        [(2, 1), (1, 2), (2, 2), (2, 3)], "src long, dst long"
    )
    got3 = {
        r["node"]: r["dist"] for r in bfs_distances(edges3, None).collect()
    }
    assert got3 == {1: 0, 2: 1, 3: 2}


def test_link_prediction_hand_graph(spark):
    from query_refinement_dsit_databases_2021_spark.operators.graph import (
        link_prediction,
    )

    # path 1-2-3 plus 2-4: non-adjacent pairs through center 2 are
    # (1,3), (1,4), (3,4), each with cn=1; degrees 1,3,1,1
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (2, 4)], "src long, dst long"
    )
    rows = {
        (r["node_a"], r["node_b"]): (r["cn"], r["jacc_ppm"])
        for r in link_prediction(edges).collect()
    }
    # jaccard = 1 / (1 + 1 - 1) = 1.0 for all three pairs
    assert rows == {
        (1, 3): (1, 1000000),
        (1, 4): (1, 1000000),
        (3, 4): (1, 1000000),
    }


def test_link_prediction_excludes_existing_edges(spark):
    from query_refinement_dsit_databases_2021_spark.operators.graph import (
        link_prediction,
    )

    # triangle 1-2-3: every pair is adjacent -> no predictions
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3)], "src long, dst long"
    )
    assert link_prediction(edges).count() == 0


def _ppr_ref(edges, seeds, iterations):
    edges = sorted(set(edges))
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    outdeg = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    rank = {n: (INIT_MASS if n in seeds else 0) for n in nodes}
    for _ in range(iterations):
        contrib = {n: 0 for n in nodes}
        for s, d in edges:
            contrib[d] += (85 * rank[s] // 100) // outdeg[s]
        rank = {
            n: (TELEPORT if n in seeds else 0) + contrib[n] for n in nodes
        }
    return rank


@pytest.mark.parametrize("iterations", [1, 3, 5])
def test_personalized_pagerank_matches_reference(spark, iterations):
    from query_refinement_dsit_databases_2021_spark.operators.graph import (
        personalized_pagerank,
    )

    df = spark.createDataFrame(EDGES, "src long, dst long")
    seeds = spark.createDataFrame([(1,)], "node long")
    got = {
        r.node: r["rank"]
        for r in personalized_pagerank(df, seeds, iterations).collect()
    }
    assert got == _ppr_ref(EDGES, {1}, iterations)
    # mass concentrates around the seed's out-neighborhood: the node
    # 5 -> 1 edge gives 5 nothing back (teleport only returns to seed 1)
    assert got[5] == 0


def test_kcore_peels_tail_and_keeps_clique(spark):
    from query_refinement_dsit_databases_2021_spark.operators.graph import kcore

    # K4 clique on {1,2,3,4} plus a pendant path 4-5-6: the path peels
    # away over two rounds; the clique survives as the 3-core with
    # within-core degree 3
    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    edges = spark.createDataFrame(
        k4 + [(4, 5), (5, 6)], "src long, dst long"
    )
    got = {r["node"]: r["core_degree"] for r in kcore(edges, k=3).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_kcore_empty_when_graph_too_sparse(spark):
    from query_refinement_dsit_databases_2021_spark.operators.graph import kcore

    # a path has no 3-core at all
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "src long, dst long"
    )
    assert kcore(edges, k=3).count() == 0


def test_assortativity_star_is_negative_path_cycle_flat(spark):
    from query_refinement_dsit_databases_2021_spark.operators.graph import (
        degree_assortativity,
    )

    # a star is maximally disassortative: r = -1
    star = spark.createDataFrame(
        [(0, i) for i in range(1, 6)], "src long, dst long"
    )
    r = degree_assortativity(star).collect()[0]
    assert r["n_ends"] == 10
    assert r["assortativity"] == -1.0

    # a cycle is degree-regular: zero variance -> NULL (undefined)
    cyc = spark.createDataFrame(
        [(i, (i + 1) % 6) for i in range(6)], "src long, dst long"
    )
    r2 = degree_assortativity(cyc).collect()[0]
    assert r2["assortativity"] is None


def test_clustering_coefficient_known_graphs(spark):
    from query_refinement_dsit_databases_2021_spark.operators.graph import (
        clustering_coefficient,
    )

    # K4: 4 triangles, wedges = 4 * C(3,2) = 12 -> 3*4/12 = 1.0
    k4 = spark.createDataFrame(
        [(a, b) for a in range(1, 5) for b in range(a + 1, 5)],
        "src long, dst long",
    )
    r = clustering_coefficient(k4).collect()[0]
    assert (r["n_wedges"], r["n_triangles"], r["clustering_ppm"]) == (12, 4, 1_000_000)

    # star: many wedges, zero triangles
    star = spark.createDataFrame([(0, i) for i in range(1, 6)], "src long, dst long")
    r2 = clustering_coefficient(star).collect()[0]
    assert (r2["n_triangles"], r2["clustering_ppm"]) == (0, 0)
    assert r2["n_wedges"] == 10


def test_label_propagation_matches_python_reference(spark):
    """Synchronous LPA vs an independent pure-Python simulation on a
    two-cliques-plus-bridge graph: same labels after every round count,
    and the two cliques end in different communities."""
    from collections import Counter

    from query_refinement_dsit_databases_2021_spark.operators.graph import (
        label_propagation,
    )

    clique1 = [(a, b) for a in (1, 2, 3, 4) for b in (1, 2, 3, 4) if a < b]
    clique2 = [(a, b) for a in (10, 11, 12, 13) for b in (10, 11, 12, 13) if a < b]
    bridge = [(4, 10)]
    edges = clique1 + clique2 + bridge
    df = spark.createDataFrame(edges, "src long, dst long")

    def python_lpa(edges, rounds):
        adj = {}
        for a, b in edges:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        labels = {n: n for n in adj}
        for _ in range(rounds):
            new = {}
            for n, nbs in adj.items():
                cnt = Counter(labels[x] for x in nbs)
                best = max(cnt.items(), key=lambda kv: (kv[1], -kv[0]))
                new[n] = best[0]
            labels = new
        return labels

    for rounds in (1, 2, 3):
        got = {
            r["node"]: r["label"]
            for r in label_propagation(df, rounds=rounds).collect()
        }
        assert got == python_lpa(edges, rounds), rounds
    final = python_lpa(edges, 3)
    assert final[1] == final[2] == final[3]
    assert final[11] == final[12] == final[13]
    assert final[1] != final[11]  # the bridge does not merge the cliques


def test_modularity_hand_values(spark):
    from query_refinement_dsit_databases_2021_spark.operators.graph import (
        modularity,
    )

    # two triangles joined by one bridge: m = 7
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)],
        "src long, dst long",
    )
    # perfect 2-community split
    comm = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 0), (4, 1), (5, 1), (6, 1)],
        "node long, label long",
    )
    r = modularity(edges, comm).collect()[0]
    assert r["m_edges"] == 7 and r["n_communities"] == 2
    # e_c = 3 each; d_c = 7 each (triangle degrees 2+2+3)
    # Q_num = 2 * (4*7*3 - 49) = 70; Q_den = 196; Q = 0.357...
    assert r["q_num"] == 70 and r["q_den"] == 196
    assert r["q_ppm"] == (1_000_000 * 70) // 196

    # everything in ONE community: Q is exactly 0
    one = spark.createDataFrame(
        [(n, 0) for n in (1, 2, 3, 4, 5, 6)], "node long, label long"
    )
    r1 = modularity(edges, one).collect()[0]
    assert r1["q_num"] == 0 and r1["q_ppm"] == 0

    # adversarial split (each edge cut): Q negative; floor-div parity
    bad = spark.createDataFrame(
        [(1, 0), (2, 1), (3, 0), (4, 1), (5, 0), (6, 1)],
        "node long, label long",
    )
    rb = modularity(edges, bad).collect()[0]
    assert rb["q_num"] < 0
    # floor semantics: python // floors, matching the pmod idiom
    assert rb["q_ppm"] == (1_000_000 * rb["q_num"]) // rb["q_den"]

    # node 6 unlabeled: its endpoints add to neither e_c nor d_c, but
    # m still counts all 7 edges; label 2 has no edges, so no community
    part = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 0), (4, 1), (5, 1), (9, 2)],
        "node long, label long",
    )
    rp = modularity(edges, part).collect()[0]
    assert rp["m_edges"] == 7 and rp["n_communities"] == 2
    # e = (3, 1), d = (7, 3 + 2): (4*7*3 - 49) + (4*7*1 - 25) = 38
    assert rp["q_num"] == 38 and rp["q_den"] == 196
    assert rp["q_ppm"] == (1_000_000 * 38) // 196

    # an empty assignment returns no row
    assert modularity(edges, part.where("node < 0")).count() == 0


def test_modularity_leaves_no_cache_entry(spark):
    """modularity's canonical edge frame is materialized, not
    persisted: no CacheManager entry outlives the call."""
    from query_refinement_dsit_databases_2021_spark.operators.graph import (
        modularity,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "src long, dst long"
    )
    comm = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 0), (4, 1)], "node long, label long"
    )
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    assert cache.isEmpty()
    assert modularity(edges, comm).collect()[0]["m_edges"] == 4
    assert cache.isEmpty()


def test_copurchase_projection_hand_basket(spark):
    from query_refinement_dsit_databases_2021_spark.operators.graph import (
        copurchase_projection,
    )

    # orders: {1,2,3}, {1,2}, {2,3}, and a dup line that must not
    # double-count -> (1,2):2, (2,3):2, (1,3):1
    rows = [(10, 1), (10, 2), (10, 3), (11, 1), (11, 2), (11, 2), (12, 2), (12, 3)]
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    got = [
        (r["pa"], r["pb"], r["co_orders"])
        for r in copurchase_projection(li, top_k=10).collect()
    ]
    assert got == [(1, 2, 2), (2, 3, 2), (1, 3, 1)]


def test_reciprocity_counts_mutual_edges(spark):
    from query_refinement_dsit_databases_2021_spark.operators.graph import (
        reciprocity,
    )

    # 1->2 and 2->1 are mutual; 1->3 is not; the duplicate 1->2 row
    # must not double-count
    e = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 3), (1, 2)], "src long, dst long"
    )
    r = reciprocity(e).collect()[0]
    assert (r["n_edges"], r["n_reciprocal"]) == (3, 2)
    assert r["reciprocity_ppm"] == 2 * 1_000_000 // 3


def test_degree_histogram_log2_buckets(spark):
    from query_refinement_dsit_databases_2021_spark.operators.graph import (
        degree_histogram,
    )

    # node 1: deg 1 (bucket 0); node 2: deg 3 (bucket 1);
    # node 3: deg 8 (bucket 3); dup edge must not inflate degree
    edges = [(1, 10)] + [(2, d) for d in (11, 12, 13)] + [
        (3, d) for d in range(20, 28)
    ] + [(1, 10)]
    e = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["bucket"]: (r["n_nodes"], r["min_deg"], r["max_deg"])
        for r in degree_histogram(e).collect()
    }
    assert got == {0: (1, 1, 1), 1: (1, 3, 3), 3: (1, 8, 8)}


def test_katz_star_vs_chain(spark):
    from query_refinement_dsit_databases_2021_spark.operators.graph import (
        KATZ_INIT,
        katz_centrality,
    )

    # star: 4 leaves -> hub; chain: a -> b. After any iterations the
    # hub's katz = INIT + 4*INIT//2 + ... strictly exceeds b's.
    edges = [(i, 100) for i in (1, 2, 3, 4)] + [(10, 11)]
    e = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["katz"] for r in katz_centrality(e).collect()}
    assert got[100] == max(got.values())
    # leaves receive nothing: exactly the base mass
    assert got[1] == KATZ_INIT
    # hand-rolled 4-iteration recursion for the hub: sources are fixed
    # at INIT every round, so hub = INIT + (4 * INIT) // 2
    assert got[100] == KATZ_INIT + (4 * KATZ_INIT) // 2
    assert got[11] == KATZ_INIT + KATZ_INIT // 2


def test_association_rules_hand_baskets(spark):
    """Hand-checked support/confidence/lift ppm: 4 orders, items A=1,
    B=2, C=3. {A,B} x2, {A,C} x1, {A} x1 -> n_A=4, n_B=2, n_C=1,
    n_AB=2, n_AC=1, n_orders=4."""
    from query_refinement_dsit_databases_2021_spark.operators.graph import (
        association_rules,
    )

    rows = [
        (10, 1), (10, 2),
        (20, 1), (20, 2),
        (30, 1), (30, 3),
        (40, 1),
        (10, 1),  # duplicate lineitem row: DISTINCT (o, p) must absorb
    ]
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    got = {
        (r["pa"], r["pb"]): (
            r["n_ab"], r["support_ppm"], r["conf_ab_ppm"],
            r["conf_ba_ppm"], r["lift_ppm"],
        )
        for r in association_rules(li).collect()
    }
    # (1,2): n_ab=2, support=2/4, conf_ab=2/4, conf_ba=2/2,
    # lift = ((1e6*2 div 4) * 4) div 2 = 1_000_000
    assert got[(1, 2)] == (2, 500000, 500000, 1000000, 1000000)
    # (1,3): n_ab=1, support=1/4, conf_ab=1/4, conf_ba=1/1,
    # lift = ((1e6 div 4) * 4) div 1 = 1_000_000
    assert got[(1, 3)] == (1, 250000, 250000, 1000000, 1000000)
    assert set(got) == {(1, 2), (1, 3)}


def _hits_ref(edges, iterations):
    """Sequential fixed-point HITS reference in pure Python ints."""
    from query_refinement_dsit_databases_2021_spark.operators.graph import (
        HITS_SCALE,
    )

    edges = sorted(set(edges))
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    h = {n: HITS_SCALE for n in nodes}
    a = {}
    for _ in range(iterations):
        raw_a = {n: 0 for n in nodes}
        for s, d in edges:
            raw_a[d] += h[s]
        mx = max(raw_a.values())
        a = {n: raw_a[n] * HITS_SCALE // mx for n in nodes}
        raw_h = {n: 0 for n in nodes}
        for s, d in edges:
            raw_h[s] += a[d]
        mx = max(raw_h.values())
        h = {n: raw_h[n] * HITS_SCALE // mx for n in nodes}
    return a, h


@pytest.mark.parametrize("iterations", [1, 2, 4])
def test_hits_matches_sequential_reference(spark, iterations):
    from query_refinement_dsit_databases_2021_spark.operators.graph import hits

    df = spark.createDataFrame(EDGES, "src long, dst long")
    got = {
        r.node: (r["authority"], r["hub"])
        for r in hits(df, iterations).collect()
    }
    ref_a, ref_h = _hits_ref(EDGES, iterations)
    assert got == {n: (ref_a[n], ref_h[n]) for n in ref_a}


def test_hits_structure(spark):
    from query_refinement_dsit_databases_2021_spark.operators.graph import (
        HITS_SCALE,
        hits,
    )

    # hub 1 points at three targets; 5 only points at 1; 4 is a sink
    df = spark.createDataFrame(EDGES, "src long, dst long")
    got = {
        r.node: (r["authority"], r["hub"]) for r in hits(df, 4).collect()
    }
    assert max(v[0] for v in got.values()) == HITS_SCALE
    assert max(v[1] for v in got.values()) == HITS_SCALE
    assert got[4][1] == 0  # sink: no out-edges -> hub 0
    assert got[5][0] == 0  # source: no in-edges -> authority 0
    assert got[1][1] == HITS_SCALE  # the hub


def test_harmonic_centrality_hand_path(spark):
    """Path graph 1-2-3-4-5 with seeds 1 and 3: H(1) over {2,3,4,5} at
    dists {1,2,3,4} = 1e6 + 5e5 + 333333 + 250000; H(3) sees two at 1
    and two at 2."""
    from query_refinement_dsit_databases_2021_spark.operators.graph import (
        harmonic_centrality_sampled,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "src long, dst long"
    )
    got = {
        r["seed"]: (r["n_reached"], r["harmonic_micro"])
        for r in harmonic_centrality_sampled(edges, seeds=(1, 3)).collect()
    }
    assert got[1] == (4, 1000000 + 500000 + 333333 + 250000)
    assert got[3] == (4, 2 * 1000000 + 2 * 500000)

    # the multi-source loop restricted to one seed IS single-source
    # BFS, on a graph with a self-loop, a reversed duplicate and a
    # second component
    from query_refinement_dsit_databases_2021_spark.operators.graph import (
        _bfs_distances_multi,
        bfs_distances,
    )

    edges2 = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 3), (3, 4), (7, 8), (8, 9)],
        "src long, dst long",
    )
    seeds = (1, 3, 8)
    multi = _bfs_distances_multi(edges2, seeds).collect()
    for s in seeds:
        single = bfs_distances(
            edges2, spark.createDataFrame([(s,)], "node long")
        ).collect()
        assert sorted((r["node"], r["dist"]) for r in multi if r["seed"] == s) == (
            sorted((r["node"], r["dist"]) for r in single)
        ), s
    # the second component is reached only from its own seed
    assert {r["node"] for r in multi if r["seed"] == 8} == {7, 8, 9}
    assert {r["node"] for r in multi if r["seed"] == 1} == {1, 2, 3, 4}


def test_harmonic_zero_reach_seed_omitted(spark):
    """A seed absent from the graph (or isolated) must produce NO row
    — matching the oracle's GROUP BY over the dist>0 frontier, which
    emits no group for it (advice r06: the global agg otherwise emits
    a (seed, 0, NULL) row and the differential gate diverges on
    sparse graphs)."""
    from query_refinement_dsit_databases_2021_spark.operators.graph import (
        harmonic_centrality_sampled,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "src long, dst long"
    )
    rows = harmonic_centrality_sampled(edges, seeds=(1, 999)).collect()
    assert [r["seed"] for r in rows] == [1]


def test_resource_allocation_hand_graph(spark):
    """RA index on a hand graph: edges (1,2),(2,3),(3,4),(2,4) —
    non-adjacent pairs are (1,3) and (1,4), each through the single
    center 2 with deg(2)=3, so ra_ppm = floor(1e6/3) = 333333; a
    second graph shows hub discounting: the pair sharing a degree-2
    center outranks the pair sharing a degree-4 hub even at equal
    common-neighbor count."""
    from query_refinement_dsit_databases_2021_spark.operators.graph import (
        resource_allocation,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (2, 4)], "src long, dst long"
    )
    rows = {
        (r["node_a"], r["node_b"]): (r["cn"], r["ra_ppm"])
        for r in resource_allocation(edges).collect()
    }
    assert rows == {(1, 3): (1, 333333), (1, 4): (1, 333333)}

    # hub graph: center 10 links 1,2,3,4 (deg 4); center 20 links 5,6
    # (deg 2). cn=1 for (1,2)... via 10 and (5,6) via 20; RA ranks
    # (5,6) (500000) above every hub-mediated pair (250000)
    hub = spark.createDataFrame(
        [(10, 1), (10, 2), (10, 3), (10, 4), (20, 5), (20, 6)],
        "src long, dst long",
    )
    ranked = resource_allocation(hub).collect()
    assert (ranked[0]["node_a"], ranked[0]["node_b"]) == (5, 6)
    assert ranked[0]["ra_ppm"] == 500000
    assert all(r["ra_ppm"] == 250000 for r in ranked[1:])


def test_ktruss_keeps_clique_drops_pendant_triangle(spark):
    from query_refinement_dsit_databases_2021_spark.operators.graph import ktruss

    # K4 on {1,2,3,4}: every edge sits in 2 triangles -> survives k=4.
    # A pendant triangle {4,5,6} has support-1 edges only -> peels.
    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    edges = spark.createDataFrame(
        k4 + [(4, 5), (4, 6), (5, 6)], "src long, dst long"
    )
    got = {
        (r["node_a"], r["node_b"]): r["support"]
        for r in ktruss(edges, k=4).collect()
    }
    assert got == {(a, b): 2 for a, b in k4}


def test_ktruss_peeling_cascades(spark):
    from query_refinement_dsit_databases_2021_spark.operators.graph import ktruss

    # two triangles sharing edge (1,2): the shared edge has support 2,
    # but every outer edge has support 1 -> round 1 drops the outer
    # edges, which starves the shared edge -> round 2 empties the graph
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (1, 4), (2, 4)], "src long, dst long"
    )
    assert ktruss(edges, k=4).count() == 0


def test_ktruss_order_invariant_under_repartition(spark):
    from query_refinement_dsit_databases_2021_spark.operators.graph import ktruss

    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    edges = spark.createDataFrame(
        k4 + [(4, 5), (5, 6), (2, 5)], "src long, dst long"
    )
    one = [tuple(r) for r in ktruss(edges, k=4).collect()]
    two = [tuple(r) for r in ktruss(edges.repartition(7), k=4).collect()]
    assert one == two


@pytest.mark.parametrize(
    "op, kwargs, edges, bound",
    [
        # eccentricity 4 from the minimum node
        ("bfs_distances", {"sources": None}, [(1, 2), (2, 3), (3, 4), (4, 5), (8, 9)], 4),
        # the pendant path 4-5-6 peels one node per round
        ("kcore", {"k": 2}, [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6)], 4),
        # the second kernel loses its outer edges, then its shared edge
        (
            "ktruss",
            {"k": 4},
            [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
            + [(10, 11), (10, 12), (11, 12), (10, 13), (11, 13)],
            3,
        ),
    ],
)
def test_fixpoint_max_iters_bound(spark, op, kwargs, edges, bound):
    """``max_iters`` bounds the loop's rounds (for BFS the rounds that
    change the distances, for kcore and ktruss every peel round, the
    confirming one included): one short raises, the exact bound
    returns the default's rows."""
    from query_refinement_dsit_databases_2021_spark.operators import graph

    fn = getattr(graph, op)
    df = spark.createDataFrame(edges, "src long, dst long")
    want = sorted(map(tuple, fn(df, **kwargs).collect()))
    assert want
    assert sorted(map(tuple, fn(df, **kwargs, max_iters=bound).collect())) == want
    with pytest.raises(RuntimeError, match="did not converge"):
        fn(df, **kwargs, max_iters=bound - 1)


def test_loop_broadcast_probe_output_invariant(
    spark, monkeypatch, materialize_mode
):
    """pagerank, katz, hits and label_propagation each probe their
    node count once, and every propagation round broadcasts its
    message and its aggregate while ``broadcast_ok`` holds. On a small
    graph the real rule adds those hints; with the rule forced False
    the rounds carry none. Both paths are
    bit-identical under every ``spark.qr.materialize`` mode.

    The loops truncate lineage with ``localCheckpoint``, so the hints
    are counted over the analyzed plan of every frame the operator
    checkpoints plus the frame it returns (hits also broadcasts its
    one-row rescale max either way, hence the difference)."""
    from query_refinement_dsit_databases_2021_spark.operators import graph

    edges = spark.createDataFrame(
        [(i % 23, (i * 7) % 31) for i in range(300)], "src long, dst long"
    )
    frame_cls = type(edges)
    real_checkpoint = frame_cls.localCheckpoint

    def run(op):
        plans = []

        def spy(df, *args, **kwargs):
            plans.append(df._jdf.queryExecution().analyzed().toString())
            return real_checkpoint(df, *args, **kwargs)

        monkeypatch.setattr(frame_cls, "localCheckpoint", spy)
        out = op(edges)
        plans.append(out._jdf.queryExecution().analyzed().toString())
        monkeypatch.setattr(frame_cls, "localCheckpoint", real_checkpoint)
        hints = sum(p.count("strategy=broadcast") for p in plans)
        return hints, sorted(map(tuple, out.collect()))

    # (operator, hints its rounds add): two per round; each HITS
    # half-step's rescale fold reads its aggregate twice, so both of
    # that half-step's hints show twice
    cases = [
        (lambda e: graph.pagerank(e, 3), 6),
        (lambda e: graph.katz_centrality(e, 3), 6),
        (lambda e: graph.hits(e, 2), 16),
        (lambda e: graph.label_propagation(e, 2), 4),
    ]
    for op, hints in cases:
        real_hints, real_rows = run(op)
        monkeypatch.setattr(graph, "broadcast_ok", lambda n, df: False)
        forced_hints, forced_rows = run(op)
        monkeypatch.undo()
        assert real_hints - forced_hints == hints
        assert real_rows == forced_rows and real_rows


def test_bfs_broadcast_fallback_output_invariant(spark, monkeypatch):
    """r10: the BFS frontier broadcast switch is byte-based; the
    shuffle fallback must produce identical distances."""
    from query_refinement_dsit_databases_2021_spark.operators import graph
    from query_refinement_dsit_databases_2021_spark.operators.graph import (
        bfs_distances,
    )

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(40)] + [(0, 20), (5, 35)],
        "src long, dst long",
    )
    src = spark.createDataFrame([(0,)], "node long")
    fast = sorted(map(tuple, bfs_distances(edges, src).collect()))
    monkeypatch.setattr(graph, "broadcast_ok", lambda n, df: False)
    slow = sorted(map(tuple, bfs_distances(edges, src).collect()))
    assert fast == slow


def test_triangle_dense_kernel_matches_distributed(spark, monkeypatch):
    """r10: below TRI_DENSE_MAX_NODES/EDGES the triangle kernel is one
    mapInArrow matmul task; past the gate the r09 distributed
    intersection path runs. Both must be bit-identical on the same
    graph — including a triangle-free and an empty result."""
    from query_refinement_dsit_databases_2021_spark.operators import graph

    cases = [
        # dense-ish: K5 plus a pendant
        [(a, b) for a in range(5) for b in range(5) if a < b] + [(4, 9)],
        # triangle-free: a path
        [(i, i + 1) for i in range(8)],
    ]
    for es in cases:
        edges = spark.createDataFrame(es, "src long, dst long")
        dense = sorted(map(tuple, triangle_count(edges).collect()))
        monkeypatch.setattr(graph, "TRI_DENSE_MAX_NODES", 0)
        # r10: past the dense gate there are TWO distributed strategies
        # — the lazy wedge join (small wedge mass) and the checkpointed
        # intersection (100 TB form); force each and require
        # bit-identity with the dense kernel
        wedge = sorted(map(tuple, triangle_count(edges).collect()))
        monkeypatch.setattr(graph, "TRI_WEDGE_MAX_MASS", -1)
        ckpt = sorted(map(tuple, triangle_count(edges).collect()))
        monkeypatch.undo()
        assert dense == wedge == ckpt
