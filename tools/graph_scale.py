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
  * pagerank (5 iters) — both loop forms: the plain equi-join
    edges⋈send (label ``shuffle_join``) and the operator's own choice
    (label ``shipped``: it broadcasts the send frame while
    ``materialize.broadcast_ok`` holds, which covers every size here;
    earlier rows of graph_scale.csv forced that broadcast)
  * hits (4 iters) — as shipped (localCheckpoint per half-step), and
    its shuffle join (label ``shuffle_fallback``)
  * lpa (3 rounds) — its shuffle join (label ``shuffle_fallback``)
  * components — min-label pointer jumping over the edge list
    (dedup.neardup_components, the shared machinery)
The shuffle-join rows set ``materialize.BROADCAST_MAX_BYTES = 0``
around the call, so the operator's broadcast rule declines. A run that
raises is recorded with checksum ``FAILED:<exception>``.
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
from unittest import mock

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
    from query_refinement_dsit_databases_2021_spark.operators import dedup, graph, materialize

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

    def components(edges):
        return dedup.neardup_components(
            edges.select(
                F.least("src", "dst").alias("doc_a"),
                F.greatest("src", "dst").alias("doc_b"),
            ).where(F.col("doc_a") != F.col("doc_b"))
        )

    # (--skip-variants name, op, variant label, forced shuffle,
    #  operator, summed checksum columns)
    runs = (
        ("pagerank", "pagerank", "shuffle_join", True, graph.pagerank,
         ("rank",)),
        ("pagerank_bcast", "pagerank", "shipped", False, graph.pagerank,
         ("rank",)),
        ("hits", "hits", "shipped", False, graph.hits, ("authority", "hub")),
        # forced so the fallback curve has same-session points at node
        # counts where the default still broadcasts (r08 verdict item 7)
        ("hits_fallback", "hits", "shuffle_fallback", True, graph.hits,
         ("authority", "hub")),
        ("lpa_fallback", "lpa", "shuffle_fallback", True,
         graph.label_propagation, ("label",)),
        ("components", "components", "pointer_jump", False, components,
         ("cluster_id",)),
    )

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

        for name, op, variant, forced, fn, cols in runs:
            if name in skip:
                continue
            bound = 0 if forced else materialize.BROADCAST_MAX_BYTES
            t0 = time.time()
            try:
                with mock.patch.object(materialize, "BROADCAST_MAX_BYTES", bound):
                    row = fn(edges).agg(
                        *[F.sum(c) for c in cols], F.count(F.lit(1))
                    ).collect()[0]
                chk = "/".join(str(v) for v in row)
            except Exception as exc:
                chk = f"FAILED:{type(exc).__name__}"
            record(tag, n_edges, n_nodes, op, variant, time.time() - t0, chk)

    out.close()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
