"""Structured Streaming tests: file source -> windowed/sessionized/
stateful transforms -> memory sink, cross-checked against the
equivalent batch aggregation over the same files (the correctness
contract for incremental execution)."""

import shutil

import pytest
from pyspark.sql import functions as F

from query_refinement_dsit_databases_2021_spark.streaming import windows as W

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    # split the sf0.001 events into several files so the stream runs
    # multiple micro-batches (maxFilesPerTrigger=1)
    import glob
    import os

    from query_refinement_dsit_databases_2021_spark.workloads import register_views

    out = str(tmp_path_factory.mktemp("events_stream"))
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    # register_views handles the TIMESTAMP(NANOS) -> micros conversion;
    # the rewritten files then carry a Spark-native timestamp. Files are
    # written as consecutive time slices (named in order) so micro-batches
    # arrive roughly in event-time order — the realistic stream shape; a
    # batch arriving entirely behind the watermark would rightly be dropped.
    register_views(spark, SF_DIR)
    ev = spark.table("events")
    qs = ev.approxQuantile("event_id", [0.25, 0.5, 0.75], 0.0)
    bounds = [float("-inf"), *qs, float("inf")]
    for i, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
        tmp = f"{out}_slice{i}"
        (
            ev.where((F.col("event_id") > lo) & (F.col("event_id") <= hi))
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(tmp)
        )
        src = glob.glob(f"{tmp}/part-*.parquet")[0]
        os.rename(src, f"{out}/{i:04d}.parquet")
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def _batch_events(spark, events_dir):
    return spark.read.schema(W.EVENTS_SCHEMA).parquet(events_dir)


def test_windowed_rollup_matches_batch(spark, events_dir):
    stream = W.read_event_stream(spark, events_dir)
    # complete mode: the sink holds the FULL aggregate each trigger, so the
    # final table equals the batch result including not-yet-closed windows
    W.run_to_memory_sink(W.windowed_rollup(stream), "wr", output_mode="complete")
    got = {
        (r["window_start"], r["event_type"]): (r["n"], r["total_value"])
        for r in spark.table("wr").collect()
    }
    expected = {
        (r["window_start"], r["event_type"]): (r["n"], r["total_value"])
        for r in W.windowed_rollup(_batch_events(spark, events_dir)).collect()
    }
    assert got == expected and len(got) > 0


def test_sliding_window_has_overlap(spark, events_dir):
    df = W.windowed_rollup(
        _batch_events(spark, events_dir), window="20 minutes", slide="10 minutes"
    )
    rows = df.collect()
    starts = sorted({r["window_start"] for r in rows})
    # sliding windows start every 10 min but span 20 -> adjacent starts differ by 10
    deltas = {
        int((b - a).total_seconds()) for a, b in zip(starts, starts[1:])
    }
    assert 600 in deltas


def test_sessionized_matches_batch(spark, events_dir):
    stream = W.read_event_stream(spark, events_dir)
    W.run_to_memory_sink(W.sessionized(stream), "sess", output_mode="complete")
    got = sorted(
        (r["user_id"], r["session_start"], r["n_events"])
        for r in spark.table("sess").collect()
    )
    expected = sorted(
        (r["user_id"], r["session_start"], r["n_events"])
        for r in W.sessionized(_batch_events(spark, events_dir)).collect()
    )
    assert got == expected and len(got) > 0


def test_session_totals_cover_all_events(spark, events_dir):
    batch = _batch_events(spark, events_dir)
    sess = W.sessionized(batch)
    assert (
        sess.agg(F.sum("n_events")).collect()[0][0] == batch.count()
    )


def test_interval_join_matches_batch(spark, events_dir):
    # stream-stream inner interval join (click -> purchase within 2 h):
    # append mode emits eagerly on match; the final table must equal the
    # same join run as one batch over the same files
    stream = W.read_event_stream(spark, events_dir)
    joined = W.interval_join(
        stream.where("event_type = 'click'"),
        stream.where("event_type = 'purchase'"),
        max_lag="2 hours",
        watermark="2 hours",
    )
    W.run_to_memory_sink(joined, "ij", output_mode="append")
    got = sorted(tuple(r) for r in spark.table("ij").collect())
    batch = _batch_events(spark, events_dir)
    expected = sorted(
        tuple(r)
        for r in W.interval_join(
            batch.where("event_type = 'click'"),
            batch.where("event_type = 'purchase'"),
            max_lag="2 hours",
        ).collect()
    )
    assert got == expected and len(got) > 0


def test_dedup_within_watermark_matches_batch_distinct(spark, events_dir):
    # with a delay covering the whole input span no state expires, so
    # the streaming dedup's key set equals batch DISTINCT on the keys
    stream = W.read_event_stream(spark, events_dir)
    dd = W.dedup_within_watermark(stream, watermark="35 days")
    W.run_to_memory_sink(dd.select("user_id", "event_type"), "dd", "append")
    got = sorted(tuple(r) for r in spark.table("dd").collect())
    expected = sorted(
        tuple(r)
        for r in _batch_events(spark, events_dir)
        .select("user_id", "event_type")
        .distinct()
        .collect()
    )
    assert got == expected and len(got) > 0


def test_foreachbatch_continuous_refinement(spark, tmp_path):
    # SURVEY §2.10: refinement rescoring as a foreachBatch batch job.
    # A dense series arrives in 3 time-ordered slices; every trigger
    # appends to the series sink and re-runs the refined CP query over
    # all data so far. The final batch must equal a direct batch run
    # on the full series; the first batch must equal a run on slice 0.
    import math

    from query_refinement_dsit_databases_2021_spark.plans.executor import Engine
    from query_refinement_dsit_databases_2021_spark.streaming.refine import (
        run_refine_stream,
    )

    n, slices = 600, 3
    rows = [(i, 40.0 + 30.0 * math.sin(i / 9.0)) for i in range(1, n + 1)]
    src = tmp_path / "src"
    src.mkdir()
    per = n // slices
    for s in range(slices):
        spark.createDataFrame(
            rows[s * per : (s + 1) * per], "time_id long, y double"
        ).coalesce(1).write.parquet(str(src / f"slice{s}"))
    # one directory of files, named in time order
    import glob
    import os

    stream_dir = tmp_path / "stream"
    stream_dir.mkdir()
    for s in range(slices):
        part = glob.glob(str(src / f"slice{s}" / "part-*.parquet"))[0]
        os.rename(part, str(stream_dir / f"{s:04d}.parquet"))

    q = (
        "SELECT time_id, offset IN_DOMAIN [1, None], [3, 8]\n"
        "FROM stream_series.y\nWHERE avg_amp() in [60, 70] MAX\nLIMIT REFINED 10\n"
    )
    series_path = str(tmp_path / "series.parquet")
    results_path = str(tmp_path / "results.parquet")
    events = (
        spark.readStream.schema("time_id long, y double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stream_dir))
    )
    persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
    run_refine_stream(events, series_path, q, results_path)
    # every trigger releases the candidates its engine cached
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == persisted

    results = spark.read.parquet(results_path)
    batches = sorted(r["batch_id"] for r in results.select("batch_id").distinct().collect())
    assert batches == [0, 1, 2]

    def batch_run(upto):
        eng = Engine(spark)
        eng.register_series(
            "stream_series",
            spark.createDataFrame(rows[:upto], "time_id long, y double"),
        )
        return sorted((r.time_id, r.offset) for r in eng.execute(q).collect())

    got_last = sorted(
        (r.time_id, r.offset)
        for r in results.where(F.col("batch_id") == 2).collect()
    )
    assert got_last == batch_run(n)
    got_first = sorted(
        (r.time_id, r.offset)
        for r in results.where(F.col("batch_id") == 0).collect()
    )
    assert got_first == batch_run(per)
    assert len(got_last) == 10


def test_running_max_stateful(spark, events_dir):
    stream = W.read_event_stream(spark, events_dir)
    W.run_to_memory_sink(
        W.running_max_by_type(stream), "runmax", output_mode="update"
    )
    out = spark.table("runmax")
    # final state per type (last emitted row = largest n_so_far)
    final = {
        r["event_type"]: (r["n_so_far"], r["max_value"])
        for r in out.withColumn(
            "rn",
            F.row_number().over(
                __import__("pyspark.sql.window", fromlist=["Window"])
                .Window.partitionBy("event_type")
                .orderBy(F.desc("n_so_far"))
            ),
        )
        .where("rn = 1")
        .collect()
    }
    batch = _batch_events(spark, events_dir)
    expected = {
        r["event_type"]: (r["n"], r["mx"])
        for r in batch.groupBy("event_type")
        .agg(F.count("*").alias("n"), F.max("value").alias("mx"))
        .collect()
    }
    assert final == expected


def test_trending_topk_stream_counts_then_rank_matches_batch(spark, events_dir):
    """The split the operator documents: counts are the streamable
    half (complete mode here so open windows are visible too); the
    rank runs batch-side over the sink — together they must equal the
    one-shot batch plan."""
    stream = W.read_event_stream(spark, events_dir)
    W.run_to_memory_sink(
        W.trending_counts(stream), "trend_counts", output_mode="complete"
    )
    ranked = W.rank_topk_per_window(spark.table("trend_counts"))
    got = {tuple(r) for r in ranked.collect()}
    want = {
        tuple(r)
        for r in W.rank_topk_per_window(
            W.trending_counts(_batch_events(spark, events_dir))
        ).collect()
    }
    assert got == want and len(got) > 0


def test_enrich_with_static_stream_matches_batch(spark, events_dir):
    """Stream-static join: the stream side enriched against a bounded
    dim computed from the batch snapshot must equal the batch join."""
    dim = W.type_share_dim(_batch_events(spark, events_dir))
    stream = W.read_event_stream(spark, events_dir)
    W.run_to_memory_sink(
        W.enrich_with_static(stream, dim), "enriched", output_mode="append"
    )
    got = {tuple(r) for r in spark.table("enriched").collect()}
    want = {
        tuple(r)
        for r in W.enrich_with_static(_batch_events(spark, events_dir), dim).collect()
    }
    assert got == want and len(got) > 0


def test_interval_join_outer_matches_batch_on_closed_region(spark, events_dir):
    # LEFT OUTER interval join: matched rows emit eagerly, but a
    # null-padded (never-converted) row emits only once the watermark
    # proves no match can arrive — left events near the end of input
    # never close, so exact parity holds on the watermark-closed region
    lag, wm = "2 hours", "2 hours"
    stream = W.read_event_stream(spark, events_dir)
    joined = W.interval_join_outer(
        stream.where("event_type = 'click'"),
        stream.where("event_type = 'purchase'"),
        max_lag=lag,
        watermark=wm,
    )
    W.run_to_memory_sink(joined, "ijo", output_mode="append")
    got = {tuple(r) for r in spark.table("ijo").collect()}
    batch = _batch_events(spark, events_dir)
    expected = {
        tuple(r)
        for r in W.interval_join_outer(
            batch.where("event_type = 'click'"),
            batch.where("event_type = 'purchase'"),
            max_lag=lag,
        ).collect()
    }
    # matched pairs: streaming result is exactly the batch inner rows
    got_matched = {t for t in got if t[3] == 1}
    exp_matched = {t for t in expected if t[3] == 1}
    assert got_matched == exp_matched and len(got_matched) > 0
    # closed region: the watermark advances at the END of a micro-batch
    # and applies to the NEXT one, so events in the final file never
    # raise the applied watermark — the effective final watermark is
    # max(ts over all but the last slice) - delay. Every left event
    # whose match window closed before that must agree exactly
    # (including the null-padded non-conversions)
    import glob

    slices = sorted(glob.glob(f"{events_dir}/*.parquet"))
    wm_base = (
        spark.read.parquet(*slices[:-1]).agg(F.max("ts")).collect()[0][0]
    )
    closed = {
        r["event_id"]
        for r in batch.where(
            (F.col("event_type") == "click")
            & (F.col("ts") < F.lit(wm_base) - F.expr("INTERVAL 5 hours"))
        ).collect()
    }
    got_closed = {t for t in got if t[0] in closed}
    exp_closed = {t for t in expected if t[0] in closed}
    assert got_closed == exp_closed
    # and the closed region must actually contain non-conversions,
    # else the interesting branch went untested
    assert any(t[3] == 0 for t in exp_closed)


def test_upsert_on_stream_matches_batch_merge(spark, events_dir, tmp_path):
    # streaming CDC apply: per-micro-batch merge_upsert into a
    # versioned snapshot must converge to the batch latest-per-key
    # state over the same input — the materialized-view invariant
    from query_refinement_dsit_databases_2021_spark.streaming.refine import (
        read_snapshot,
        upsert_on_stream,
    )

    root = str(tmp_path / "snap")
    stream = W.read_event_stream(spark, events_dir)
    fn = upsert_on_stream(root)
    q = stream.writeStream.foreachBatch(fn).outputMode("update").start()
    q.processAllAvailable()
    q.stop()
    got = sorted(
        (r["user_id"], r["ts"], r["value"])
        for r in read_snapshot(spark, root).collect()
    )
    batch = _batch_events(spark, events_dir)
    from pyspark.sql import Window as SqlWindow

    expected = sorted(
        (r["user_id"], r["ts"], r["value"])
        for r in batch.withColumn(
            "_rn",
            F.row_number().over(
                SqlWindow.partitionBy("user_id").orderBy(
                    F.desc("ts"), F.desc("event_id")
                )
            ),
        )
        .where("_rn = 1")
        .collect()
    )
    assert got == expected and len(got) > 0


def test_sweep_snapshot_versions_keeps_newest(spark, tmp_path):
    import os

    from query_refinement_dsit_databases_2021_spark.streaming.refine import (
        read_snapshot,
        sweep_snapshot_versions,
        upsert_on_stream,
    )

    root = str(tmp_path / "snap")
    fn = upsert_on_stream(root)
    # three manual "micro-batches" through the same foreachBatch fn
    for bid in range(3):
        df = spark.createDataFrame(
            [(1, __import__("datetime").datetime(2024, 1, 1, bid), bid, float(bid))],
            "user_id long, ts timestamp, event_id long, value double",
        )
        fn(df, bid)
    before = sorted(os.listdir(root))
    assert before == ["v0", "v1", "v2"]
    deleted = sweep_snapshot_versions(root, keep=2)
    assert deleted == [0]
    assert sorted(os.listdir(root)) == ["v1", "v2"]
    # the resolved snapshot still reads the newest state
    assert read_snapshot(spark, root).collect()[0]["value"] == 2.0


def test_read_snapshot_without_committed_version_names_root(spark, tmp_path):
    from query_refinement_dsit_databases_2021_spark.streaming.refine import (
        read_snapshot,
    )

    empty = tmp_path / "empty"
    empty.mkdir()
    stray = tmp_path / "stray"
    (stray / "vtmp").mkdir(parents=True)
    (stray / "_SUCCESS").write_text("")
    for root in (empty, stray):
        with pytest.raises(FileNotFoundError, match=str(root)):
            read_snapshot(spark, str(root))


def test_windowed_uniques_matches_batch_distinct(spark, events_dir):
    # dedup-then-count (the streaming COUNT DISTINCT shape): with a
    # watermark covering the whole span no dedup state expires, so the
    # final table equals batch count(distinct user) per window
    stream = W.read_event_stream(spark, events_dir)
    wu = W.windowed_uniques(stream, watermark="40 days")
    W.run_to_memory_sink(wu, "wu", output_mode="complete")
    got = sorted(
        (r["window_start"], r["n_users"]) for r in spark.table("wu").collect()
    )
    batch = _batch_events(spark, events_dir)
    expected = sorted(
        (r["window_start"], r["n_users"])
        for r in batch.groupBy(
            F.window("ts", "6 hours").start.alias("window_start")
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
        .collect()
    )
    assert got == expected and len(got) > 0


def test_cdc_apply_fold_equals_one_shot_latest(spark):
    from datetime import datetime, timedelta

    from query_refinement_dsit_databases_2021_spark.streaming.windows import (
        cdc_apply_fold,
    )

    # three weeks of updates, arrival order scrambled WITHIN each week
    # (the fold only relies on cross-week time ordering)
    base = datetime(2024, 1, 1)
    rows = []
    eid = 0
    for wk in range(3):
        for d in (5, 1, 3):  # scrambled within-week days
            for user in (1, 2):
                rows.append(
                    (eid, base + timedelta(weeks=wk, days=d), user,
                     "u", float(wk * 100 + d), "")
                )
                eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    got = {
        r["user_id"]: (r["ts"], r["value"])
        for r in cdc_apply_fold(df).collect()
    }
    # one-shot latest per key: week 2, day 5
    expect_ts = base + timedelta(weeks=2, days=5)
    assert got == {1: (expect_ts, 205.0), 2: (expect_ts, 205.0)}


def test_windowed_alerts_stream_matches_batch_finalized(spark, events_dir):
    """The streaming alert query (windowed cent totals joined against
    the static per-type threshold dim, append mode) must emit exactly
    the batch alert set restricted to watermark-FINALIZED windows —
    stream-static join after aggregation is the one composition shape
    append mode allows, and the watermark decides which windows have
    been emitted when the input is bounded."""
    from datetime import timedelta

    batch = _batch_events(spark, events_dir)
    baseline = W.type_baseline(batch)
    stream = W.read_event_stream(spark, events_dir)
    W.run_to_memory_sink(
        W.windowed_alerts(stream, baseline), "alerts", output_mode="append"
    )
    got = {
        (r["window_start"], r["event_type"]): (
            r["total_cents"],
            r["thr_cents"],
        )
        for r in spark.table("alerts").collect()
    }
    max_ts = batch.agg(F.max("ts")).collect()[0][0]
    cutoff = max_ts - timedelta(minutes=30)
    expected = {
        (r["window_start"], r["event_type"]): (
            r["total_cents"],
            r["thr_cents"],
        )
        for r in W.windowed_alerts(batch, baseline).collect()
        # append emits once the watermark passes window END (start+10m)
        if r["window_start"] + timedelta(minutes=10) <= cutoff
    }
    assert len(got) > 0
    assert expected.items() <= got.items(), (
        set(expected) - set(got)
    )
    # nothing emitted that the batch query wouldn't alert on
    batch_all = {
        (r["window_start"], r["event_type"])
        for r in W.windowed_alerts(batch, baseline).collect()
    }
    assert set(got) <= batch_all


def _write_block(spark, dirpath, name, rows, stamp):
    """One parquet file with given (ts, event_type, value) rows and an
    explicit mtime so the file source's mtime ordering is exact."""
    import glob
    import os

    tmp = f"{dirpath}_tmp_{name}"
    spark.createDataFrame(
        rows, "ts timestamp, event_type string, value double"
    ).coalesce(1).write.mode("overwrite").parquet(tmp)
    src = glob.glob(f"{tmp}/part-*.parquet")[0]
    dst = os.path.join(dirpath, f"{name}.parquet")
    os.rename(src, dst)
    shutil.rmtree(tmp, ignore_errors=True)
    os.utime(dst, (stamp, stamp))
    return dst


def test_late_drop_audit_synthetic_checkpoint(spark, tmp_path):
    """r08 verdict item 8: the offsets-log reconstruction as a library
    operator, pinned on a fully synthetic checkpoint with hand-computed
    drop counts. 4 one-batch files, 10-minute windows, 5-minute delay;
    the 3 late rows in batch 3 (ts 00:01, window end 00:10) fall below
    that batch's late-events watermark (planned(2) = 00:19:30 − 5 min
    = 00:14:30 — the L=1 shift) and are dropped; every other row's
    window end is ahead of its batch's watermark. Also exercises the
    compaction-aware source-log parse and the bit-for-bit offsets
    self-check (a corrupted entry must raise, not silently fabricate
    the audit)."""
    import json
    import os
    from datetime import datetime, timedelta

    base = datetime(2026, 1, 1, 0, 0, 0)
    ev_dir = str(tmp_path / "events")
    os.makedirs(ev_dir)
    files = []
    for b in range(4):
        rows = [
            (base + timedelta(minutes=10 * b + m, seconds=30), "a", 1.0)
            for m in range(10)
        ]  # block max = 00:{10b+9}:30
        if b == 3:
            rows += [(base + timedelta(minutes=1), "a", 1.0)] * 3  # late
        files.append(
            _write_block(spark, ev_dir, f"{b:04d}", rows, 1_700_000_000 + b)
        )

    chk = str(tmp_path / "chk")
    os.makedirs(os.path.join(chk, "sources", "0"))
    os.makedirs(os.path.join(chk, "offsets"))
    # batches 0-1 live in a compact file (entries carry batchId),
    # batches 2-3 as plain digit files — both forms must parse
    with open(os.path.join(chk, "sources", "0", "1.compact"), "w") as f:
        f.write("v1\n")
        for b in (0, 1):
            f.write(
                json.dumps(
                    {"path": f"file://{files[b]}", "timestamp": b, "batchId": b}
                )
                + "\n"
            )
    for b in (2, 3):
        with open(os.path.join(chk, "sources", "0", str(b)), "w") as f:
            f.write("v1\n")
            f.write(
                json.dumps(
                    {"path": f"file://{files[b]}", "timestamp": b, "batchId": b}
                )
                + "\n"
            )
    # offsets retained only for batches 2-3 (the real log keeps ~100);
    # values follow Spark's rule: wm(b) = max-event-ms through b-1 - delay
    def block_max_ms(b):
        dt = base + timedelta(minutes=10 * b + 9, seconds=30)
        return int(dt.timestamp() * 1000)

    for b, wm in ((2, block_max_ms(1) - 300_000), (3, block_max_ms(2) - 300_000)):
        with open(os.path.join(chk, "offsets", str(b)), "w") as f:
            f.write("v1\n")
            f.write(json.dumps({"batchWatermarkMs": wm}) + "\n")
            f.write(json.dumps({"logOffset": b}) + "\n")

    events = spark.read.parquet(ev_dir)
    audit = W.late_drop_audit(events, chk, "5 minutes", "10 minutes").collect()
    assert len(audit) == 1
    a = audit[0]
    assert a["n_files"] == 4 and a["n_batches"] == 4
    assert a["rows_total"] == 43
    assert a["rows_admitted"] == 40
    assert a["rows_dropped_late"] == 3
    assert a["final_watermark_ms"] == block_max_ms(2) - 300_000

    adm = W.admitted_events(events, chk, "5 minutes", "10 minutes")
    assert adm.count() == 40
    # the 3 late copies are exactly what's missing
    assert (
        events.count() - adm.where(F.col("ts") == base + timedelta(minutes=1))
        .count()
        == 43 - 0
    )

    # corrupted offsets entry -> the self-check raises, never fabricates
    with open(os.path.join(chk, "offsets", "3"), "w") as f:
        f.write("v1\n")
        f.write(json.dumps({"batchWatermarkMs": 123}) + "\n")
    with pytest.raises(ValueError, match="disagrees"):
        W.late_drop_audit(events, chk, "5 minutes", "10 minutes").collect()


def test_late_drop_audit_parity_on_real_stream(spark, tmp_path):
    """End-to-end contract on a REAL checkpoint: run windowed_rollup in
    append mode over mtime-ordered one-minute files with genuinely late
    rows, then (1) the audit must find drops the metric famously
    undercounts, and (2) the append output restricted to finalized
    windows must bit-equal the batch rollup over admitted_events — the
    same parity statement stream_late_drop.csv records at 2M events."""
    import os
    from datetime import datetime, timedelta

    base = datetime(2026, 1, 1, 0, 0, 0)
    ev_dir = str(tmp_path / "events")
    os.makedirs(ev_dir)
    for b in range(6):
        rows = [
            (
                base + timedelta(minutes=10 * b, seconds=30 * i),
                f"type{i % 2}",
                float(i),
            )
            for i in range(19)
        ]
        if b >= 3:
            rows += [
                (base + timedelta(minutes=1, seconds=b), "type0", 5.0)
                for _ in range(5)
            ]
        _write_block(spark, ev_dir, f"{b:04d}", rows, 1_700_000_000 + b)

    chk = str(tmp_path / "chk")
    stream = W.read_event_stream(spark, ev_dir, max_files_per_trigger=1)
    q = (
        W.windowed_rollup(stream, watermark="5 minutes")
        .writeStream.format("memory")
        .queryName("ld_parity")
        .option("checkpointLocation", chk)
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()

    events = spark.read.parquet(ev_dir)
    a = W.late_drop_audit(events, chk, "5 minutes", "10 minutes").collect()[0]
    assert a["rows_dropped_late"] >= 15  # the planted late rows
    assert a["rows_admitted"] + a["rows_dropped_late"] == a["rows_total"]

    adm = W.admitted_events(events, chk, "5 minutes", "10 minutes")
    want = sorted(
        tuple(r)
        for r in W.windowed_rollup(adm)
        .where(
            F.col("window_start") + F.expr("INTERVAL 10 MINUTES")
            <= F.timestamp_millis(F.lit(a["final_watermark_ms"]))
        )
        .collect()
    )
    got = sorted(tuple(r) for r in spark.table("ld_parity").collect())
    assert got == want and len(got) > 0


def test_admission_sim_hand_checked(spark):
    """admission_sim on a 3-trigger hand-computed frame: trigger
    watermarks are prior-trigger maxima minus delay; a row is dropped
    iff its window END falls at or below the watermark in force."""
    from datetime import datetime, timedelta

    base = datetime(2026, 1, 1, 0, 0, 0)

    def ev(i, minutes, typ):
        return (i, base + timedelta(minutes=minutes), typ)

    rows = [
        # trigger 0 (event_id 0-1): wm = 0 -> everything admitted
        ev(0, 0, "a"),
        ev(1, 9, "a"),  # running max 00:09
        # trigger 1 (2-3): wm = 00:09 - 5 = 00:04; window ends are
        # 00:20 and 00:10, both > wm -> admitted
        ev(2, 12, "a"),
        ev(3, 1, "b"),  # late but window [0,10) end 00:10 > 00:04
        # trigger 2 (4-5): wm = 00:12 - 5 = 00:07; the minute-1 row's
        # window end 00:10 > 00:07 admitted, the minute-(-15) row's
        # window [-20,-10) end 23:50 prev day <= wm -> DROPPED
        ev(4, 1, "b"),
        ev(5, -15, "b"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string"
    )
    got = {
        r["event_type"]: (r["n"], r["n_admitted"], r["n_dropped_late"])
        for r in W.admission_sim(df, batch_rows=2).collect()
    }
    assert got == {"a": (3, 3, 0), "b": (3, 2, 1)}
