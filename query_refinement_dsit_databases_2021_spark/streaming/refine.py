"""Continuous query refinement: the CP engine over an unbounded series.

The reference is batch-only (SURVEY §2.10); this extension re-runs a
refinement query as the series grows, the Structured Streaming way:
the stream is the *driver* of recomputation, the scoring itself stays
the batch dataflow (``plans/executor.Engine``), invoked per
micro-batch through ``foreachBatch`` — the standard pattern for
semantics that need a full re-rank over all data seen so far (top-k
with relaxation/tightening is not incrementally decomposable: one new
point can flip pass/fail for every overlapping window AND shift the
global RD normalizers).

Scale shape: each trigger appends the new rows to a parquet series
sink (cheap, append-only), then runs the ordinary distributed engine
over the accumulated series — so per-trigger cost is one batch query
at current data size, with all of the engine's pushdown/halo
machinery intact. State held by the stream itself: none beyond the
file-source offsets; there is no driver-side accumulation of data.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def refine_on_stream(
    events: DataFrame,
    series_path: str,
    query_text: str,
    results_path: str,
) -> "Callable[[DataFrame, int], None]":
    """Build the ``foreachBatch`` function for continuous refinement.

    ``events``: streaming DataFrame with ``(time_id, y)`` rows (dense,
    in arrival order). Each micro-batch is appended to the parquet
    series at ``series_path``; the CP ``query_text`` (reference
    grammar, reading the table ``stream_series``) is then re-run over
    the whole accumulated series, and the refined result set — stamped
    with ``batch_id`` — is appended to ``results_path``. Query domains
    with ``None`` bounds re-resolve against the grown series every
    trigger, so an open upper domain follows the stream head.

    Returns the batch function; attach with::

        events.writeStream.foreachBatch(fn).trigger(...).start()
    """
    from query_refinement_dsit_databases_2021_spark.plans.executor import Engine

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df.select("time_id", "y").write.mode("append").parquet(series_path)
        engine = Engine(spark)
        engine.register_parquet("stream_series", series_path)
        try:
            result = engine.execute(query_text)
            (
                result.withColumn("batch_id", F.lit(batch_id))
                .write.mode("append")
                .parquet(results_path)
            )
        finally:
            engine.close()  # the batch's cached candidates

    return process_batch


def run_refine_stream(
    events: DataFrame,
    series_path: str,
    query_text: str,
    results_path: str,
):
    """Drive the stream until all available input is processed (test/
    dev harness; production attaches a real trigger/checkpoint)."""
    fn = refine_on_stream(events, series_path, query_text, results_path)
    q = events.writeStream.foreachBatch(fn).outputMode("update").start()
    q.processAllAvailable()
    q.stop()
    return q


def upsert_on_stream(
    snapshot_root: str,
    key: str = "user_id",
    ts: str = "ts",
    tiebreak: str = "event_id",
    value: str = "value",
) -> "Callable[[DataFrame, int], None]":
    """Streaming CDC apply — the "materialized snapshot" pattern: each
    micro-batch MERGE-upserts into a keyed snapshot via the batch
    :func:`operators.cdc.merge_upsert`, so the snapshot always holds
    the latest-per-key state of everything consumed so far.

    Commit protocol: the snapshot is written to a fresh versioned
    directory ``{root}/v{batch_id}`` and readers resolve the highest
    committed version — Spark cannot overwrite a parquet path it is
    lazily reading, and a mid-write crash must not corrupt the
    previous version. This is exactly the atomic-swap contract a table
    format (Iceberg/Delta) provides natively; the versioned-dir form
    is its dependency-free equivalent (pair with a retention sweep,
    ``sources.columnar.compact_small_files`` contract).

    State held by the stream: none beyond source offsets — the
    snapshot IS the state, and it lives in the lake, so a restarted
    query resumes from the last committed version. Returns the
    ``foreachBatch`` function.
    """
    from query_refinement_dsit_databases_2021_spark.operators.cdc import merge_upsert

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        updates = batch_df.select(key, ts, tiebreak, value)
        vs = _committed_versions(snapshot_root)
        if not vs:
            base = spark.createDataFrame(
                [], f"{key} long, {ts} timestamp, {value} double"
            )
        else:
            base = spark.read.parquet(f"{snapshot_root}/v{vs[-1]}")
        new_snap = merge_upsert(
            base, updates, key=key, ts=ts, tiebreak=tiebreak, value=value
        )
        new_snap.write.mode("overwrite").parquet(
            f"{snapshot_root}/v{batch_id}"
        )

    return process_batch


def _committed_versions(snapshot_root: str) -> list[int]:
    """The committed ``v<N>`` version numbers under ``snapshot_root``,
    ascending; empty when the root is missing or holds no version."""
    if not os.path.isdir(snapshot_root):
        return []
    return sorted(
        int(d[1:]) for d in os.listdir(snapshot_root)
        if d.startswith("v") and d[1:].isdigit()
    )


def read_snapshot(spark, snapshot_root: str) -> DataFrame:
    """Resolve the highest committed snapshot version (see
    :func:`upsert_on_stream`'s commit protocol). Raises
    ``FileNotFoundError`` when the root holds no committed version."""
    vs = _committed_versions(snapshot_root)
    if not vs:
        raise FileNotFoundError(f"no committed snapshot version under {snapshot_root}")
    return spark.read.parquet(f"{snapshot_root}/v{vs[-1]}")


def sweep_snapshot_versions(snapshot_root: str, keep: int = 2) -> list[int]:
    """Retention sweep for :func:`upsert_on_stream`'s versioned
    snapshots: delete all but the newest ``keep`` committed versions
    (keep >= 2 so a reader that resolved the previous version mid-swap
    still finds its files). Returns the deleted version numbers.

    This is deliberately a *separate* maintenance call, not part of
    the commit path — exactly the VACUUM/expire-snapshots split table
    formats make: commits stay cheap and readers define the retention
    window, not the writer.
    """
    import shutil

    if keep < 1:
        raise ValueError("keep must be >= 1")
    vs = _committed_versions(snapshot_root)
    doomed = vs[:-keep] if len(vs) > keep else []
    for v in doomed:
        shutil.rmtree(os.path.join(snapshot_root, f"v{v}"))
    return doomed
