#!/usr/bin/env python
"""Graph-family data-bound scale curve (r06 verdict item 3) — give
pagerank / HITS / components the same class of evidence the dedup and
ANN families got in round 6: measured wall clock in the regime where
DATA VOLUME, not fixed overhead, dominates.

Corpus: synthetic power-law directed graphs, generated IN SPARK (no
driver materialization): edge i draws src and dst as
``floor(N * pow(rand, GAMMA))`` — density ∝ x^(1/GAMMA - 1), so
GAMMA=2 gives the classic heavy head (hub nodes collect ~sqrt-law
in-degree mass) plus a long tail, the shape real web/citation graphs
take and the one that stresses the groupBy(dst) shuffle with skew.
Self-loops are kept (pagerank/HITS handle them; components unaffected).

Measurements per size (edges 10M/30M/100M, N = E/10 nodes):
  * pagerank (5 iters) — as shipped (shuffle join edges⋈send), and a
    BROADCAST(send) variant, to answer the verdict's "should the node
    frame switch to broadcast below a size threshold?"
  * hits (4 iters) — as shipped (localCheckpoint per half-step)
  * components — min-label pointer jumping over the edge list
    (dedup.neardup_components, the shared machinery)
All results are forced through value checksums (sum of ranks/labels),
never bare count() — Catalyst prunes unkeyed work under count().

Output: appends rows to graph_scale.csv:
  graph,n_edges,n_nodes,op,variant,seconds,checksum

Usage:
  SPARK_GRAFT_DRIVER_MEM=48g python tools/graph_scale.py \
      [--sizes 10000000,30000000,100000000] [--out graph_scale.csv]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

GAMMA = 2.0
SEED = 7


def synth_edges(spark, n_edges: int, n_nodes: int):
    from pyspark.sql import functions as F

    e = spark.range(n_edges).select(
        F.floor(
            F.lit(n_nodes) * F.pow(F.rand(SEED), F.lit(GAMMA))
        ).cast("long").alias("src"),
        F.floor(
            F.lit(n_nodes) * F.pow(F.rand(SEED + 1), F.lit(GAMMA))
        ).cast("long").alias("dst"),
    )
    return e


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sizes", default="10000000,30000000,100000000")
    ap.add_argument("--out", default=os.path.join(REPO, "graph_scale.csv"))
    ap.add_argument("--skip-variants", default="")
    args = ap.parse_args()
    skip = set(filter(None, args.skip_variants.split(",")))

    from pyspark.sql import functions as F

    from query_refinement_dsit_databases_2021_spark.session import get_spark
    from query_refinement_dsit_databases_2021_spark.operators import dedup, graph

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    spark = get_spark(
        app_name="graph_scale",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus * 4, 64),
    )

    header = not os.path.exists(args.out)
    out = open(args.out, "a")
    if header:
        out.write("graph,n_edges,n_nodes,op,variant,seconds,checksum\n")

    def record(tag, n_edges, n_nodes, op, variant, secs, chk):
        line = f"{tag},{n_edges},{n_nodes},{op},{variant},{secs:.1f},{chk}"
        out.write(line + "\n")
        out.flush()
        print("RESULT " + line, flush=True)

    def pagerank_bcast(edges, iterations=graph.PR_ITERATIONS):
        """pagerank with the send frame explicitly broadcast — the
        candidate strategy switch under test. Identical arithmetic."""
        edges = edges.select("src", "dst").distinct()
        nodes = (
            edges.select(F.col("src").alias("node"))
            .union(edges.select(F.col("dst").alias("node")))
            .distinct()
        )
        deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
        ranks = nodes.select(
            "node", F.lit(graph.INIT_MASS).cast("long").alias("rank")
        )
        for _ in range(iterations):
            send = ranks.join(deg, ranks.node == deg.src).select(
                "src", F.expr("(85 * rank DIV 100) DIV outdeg").alias("c")
            )
            contrib = (
                edges.join(F.broadcast(send), "src")
                .select(F.col("dst").alias("node"), "c")
                .groupBy("node")
                .agg(F.sum("c").alias("c"))
            )
            ranks = nodes.join(contrib, "node", "left").select(
                "node",
                (F.lit(graph.TELEPORT) + F.coalesce(F.col("c"), F.lit(0)))
                .cast("long")
                .alias("rank"),
            )
        return ranks

    for n_edges in (int(x) for x in args.sizes.split(",")):
        n_nodes = n_edges // 10
        tag = f"powerlaw_e{n_edges}"
        path = f"/tmp/graph_scale/{tag}.parquet"
        if not os.path.exists(path):
            t0 = time.time()
            synth_edges(spark, n_edges, n_nodes).write.mode(
                "overwrite"
            ).parquet(path)
            print(f"# generated {tag} in {time.time() - t0:.1f}s", flush=True)
        edges = spark.read.parquet(path)

        if "pagerank" not in skip:
            t0 = time.time()
            chk = (
                graph.pagerank(edges)
                .agg(F.sum("rank"), F.count(F.lit(1)))
                .collect()[0]
            )
            record(tag, n_edges, n_nodes, "pagerank", "shuffle_join",
                   time.time() - t0, f"{chk[0]}/{chk[1]}")

        if "pagerank_bcast" not in skip:
            t0 = time.time()
            try:
                chk = (
                    pagerank_bcast(edges)
                    .agg(F.sum("rank"), F.count(F.lit(1)))
                    .collect()[0]
                )
                record(tag, n_edges, n_nodes, "pagerank", "broadcast_send",
                       time.time() - t0, f"{chk[0]}/{chk[1]}")
            except Exception as exc:
                record(tag, n_edges, n_nodes, "pagerank", "broadcast_send",
                       time.time() - t0, f"FAILED:{type(exc).__name__}")

        if "hits" not in skip:
            t0 = time.time()
            chk = (
                graph.hits(edges)
                .agg(F.sum("authority"), F.sum("hub"), F.count(F.lit(1)))
                .collect()[0]
            )
            record(tag, n_edges, n_nodes, "hits", "shipped",
                   time.time() - t0, f"{chk[0]}/{chk[1]}/{chk[2]}")

        if "hits_fallback" not in skip:
            # the shuffle-join branch past materialize.broadcast_ok's bound,
            # forced so the fallback curve has same-session points at
            # node counts where the default still broadcasts (r08
            # verdict item 7)
            t0 = time.time()
            chk = (
                graph.hits(edges, broadcast_scores=False)
                .agg(F.sum("authority"), F.sum("hub"), F.count(F.lit(1)))
                .collect()[0]
            )
            record(tag, n_edges, n_nodes, "hits", "shuffle_fallback",
                   time.time() - t0, f"{chk[0]}/{chk[1]}/{chk[2]}")

        if "lpa_fallback" not in skip:
            t0 = time.time()
            chk = (
                graph.label_propagation(edges, broadcast_labels=False)
                .agg(F.sum("label"), F.count(F.lit(1)))
                .collect()[0]
            )
            record(tag, n_edges, n_nodes, "lpa", "shuffle_fallback",
                   time.time() - t0, f"{chk[0]}/{chk[1]}")

        if "components" not in skip:
            pairs = edges.select(
                F.least("src", "dst").alias("doc_a"),
                F.greatest("src", "dst").alias("doc_b"),
            ).where(F.col("doc_a") != F.col("doc_b"))
            t0 = time.time()
            comp = dedup.neardup_components(pairs)
            chk = comp.agg(
                F.sum("cluster_id"), F.count(F.lit(1))
            ).collect()[0]
            record(tag, n_edges, n_nodes, "components", "pointer_jump",
                   time.time() - t0, f"{chk[0]}/{chk[1]}")

    out.close()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
