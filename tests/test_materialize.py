"""Scale-safe materialization primitive (r10 verdict items 2 & 5):
every mode must produce bit-identical frames, operators must route
their loop invariants through it (and only those), and the byte-based
broadcast bound must price row width, not just row count."""

import pytest
from pyspark.sql import functions as F

from query_refinement_dsit_databases_2021_spark.operators import materialize as M


@pytest.fixture()
def frame(spark):
    return spark.range(500).select(
        (F.col("id") % 37).alias("k"), F.col("id").alias("v")
    )


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_modes_bit_identical(spark, frame, tmp_path):
    base = _rows(frame)
    assert _rows(M.materialize(frame)) == base
    spark.conf.set(M.MATERIALIZE_MODE_CONF, "disk")
    try:
        disk = M.materialize(frame)
        assert _rows(disk) == base
        disk.unpersist()
        spark.conf.set(M.MATERIALIZE_MODE_CONF, "reliable")
        # reliable requires a checkpoint dir: loud failure without one…
        with pytest.raises(RuntimeError, match="setCheckpointDir"):
            M.materialize(frame)
        # …and bit-identical frames with one
        spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
        assert _rows(M.materialize(frame)) == base
    finally:
        spark.conf.set(M.MATERIALIZE_MODE_CONF, "local")


def test_mode_conf_validated(spark, frame):
    spark.conf.set(M.MATERIALIZE_MODE_CONF, "bogus")
    try:
        with pytest.raises(ValueError, match="local|reliable|disk"):
            M.materialize(frame)
    finally:
        spark.conf.set(M.MATERIALIZE_MODE_CONF, "local")


def test_operators_route_through_materialize_modes(spark, tmp_path):
    """r10 verdict item 2: the edge-sized truncation sites in the graph
    and dedup operators, and the frames dedup reads more than once,
    must go through :func:`materialize`, so that a cluster can switch
    them to reliable checkpoints / DISK_ONLY persists by conf alone. Forcing each mode end-to-end proves the wiring: under
    ``reliable`` a bare ``localCheckpoint()`` would not touch the
    checkpoint dir, and results must be bit-identical across modes."""
    from query_refinement_dsit_databases_2021_spark.operators import (
        dedup,
        graph,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 3), (6, 7)],
        "src long, dst long",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (12, 13), (11, 12)],
        "doc_a long, doc_b long",
    )

    docs = spark.createDataFrame(
        [
            (1, "modes alpha beta gamma delta epsilon"),
            (2, "modes alpha beta gamma delta epsilon"),
            (3, "modes alpha beta gamma delta zeta"),
            (4, "other words entirely here instead now"),
        ],
        "doc_id long, text string",
    )

    def run():
        return {
            "pagerank": _rows(graph.pagerank(edges, 3)),
            "triangles": _rows(graph.triangle_count(edges)),
            "components": _rows(dedup.neardup_components(pairs)),
            "minhash": _rows(dedup.minhash_lsh_pairs(docs)),
            "simhash": _rows(dedup.simhash_pairs(docs)),
            "jaccard_advised": _rows(dedup.ngram_jaccard_pairs_advised(docs)),
        }

    base = run()
    assert all(base.values()), base
    ckpt_dir = tmp_path / "ckpt"
    jsc = spark.sparkContext._jsc.sc()
    prev_dir = jsc.getCheckpointDir()  # scala Option[String]
    spark.sparkContext.setCheckpointDir(str(ckpt_dir))
    try:
        for mode in ("reliable", "disk"):
            spark.conf.set(M.MATERIALIZE_MODE_CONF, mode)
            assert run() == base, mode
    finally:
        spark.conf.set(M.MATERIALIZE_MODE_CONF, "local")
        # the session is shared: later tests must not inherit tmp_path
        getattr(jsc, "checkpointDir_$eq")(prev_dir)
    assert jsc.getCheckpointDir().isDefined() == prev_dir.isDefined()
    # the reliable pass must have actually written checkpoint data
    files = list(ckpt_dir.rglob("*"))
    assert files, "reliable mode wrote nothing to the checkpoint dir"


def test_ktruss_disk_mode_leaves_one_cache(spark):
    """Under ``disk`` only the loop invariant (the canonical edge set)
    may stay as a DISK_ONLY cache: per-round support frames must not
    pile up one edge-sized cache per peel round. Counted by storage
    level because lazy local checkpoints are persisted too, and their
    lifetime is the ContextCleaner's, not the operator's."""
    from query_refinement_dsit_databases_2021_spark.operators.graph import ktruss

    def disk_only_rdds():
        rdds = spark.sparkContext._jsc.getPersistentRDDs().values()
        return sum(
            1
            for r in rdds
            if r.getStorageLevel().useDisk()
            and not r.getStorageLevel().useMemory()
        )

    # three peel rounds: outer edges, then the shared edge, then the fixpoint
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (1, 4), (2, 4)], "src long, dst long"
    )
    before = disk_only_rdds()
    spark.conf.set(M.MATERIALIZE_MODE_CONF, "disk")
    try:
        assert ktruss(edges, k=4).count() == 0
    finally:
        spark.conf.set(M.MATERIALIZE_MODE_CONF, "local")
    assert disk_only_rdds() - before <= 1


def test_broadcast_ok_prices_row_width(spark):
    narrow = spark.range(1).select(F.col("id").alias("node"))
    wide = spark.range(1).select(
        *[F.col("id").alias(f"c{i}") for i in range(10)]
    )
    limit_rows_narrow = M.BROADCAST_MAX_BYTES // M.est_row_bytes(narrow)
    limit_rows_wide = M.BROADCAST_MAX_BYTES // M.est_row_bytes(wide)
    assert limit_rows_wide < limit_rows_narrow
    assert M.broadcast_ok(limit_rows_narrow, narrow)
    assert not M.broadcast_ok(limit_rows_narrow + 1, narrow)
    assert not M.broadcast_ok(limit_rows_narrow, wide)
