"""Tests for the ingest helpers (sources/series.py), the CLI flow
(cli.py), the stage timers (timers.py), and the plot sink (plotting.py)."""

import csv
import json
import math
import os

import pytest
from pyspark.sql import functions as F

from query_refinement_dsit_databases_2021_spark import plotting
from query_refinement_dsit_databases_2021_spark.sources import series as S
from query_refinement_dsit_databases_2021_spark.timers import StageTimers


@pytest.fixture(scope="module")
def csv_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("csvs")
    (d / "2024_01.csv").write_text("Time,Flow (ml/min),CO (ppm)\n1,2.5,7\n2,3.5,8\n")
    (d / "2024_02.csv").write_text("Time,Flow (ml/min),CO (ppm)\n1,4.5,9\n2,5.5,10\n")
    return str(d)


def test_read_csv_skip_rows(spark, tmp_path):
    p = tmp_path / "junk.csv"
    p.write_text("junk1\njunk2\njunk3\na,b\n1,2\n3,4\n")
    df = S.read_csv(spark, str(p), header=False, skip_rows=4)
    assert df.count() == 2


def test_concat_csvs_derives_date(spark, csv_dir):
    df = S.concat_csvs_with_date(spark, csv_dir + "/*.csv")
    dates = {r["Date"] for r in df.select("Date").distinct().collect()}
    assert dates == {202401, 202402}
    assert df.count() == 4


def test_clean_column_names(spark, csv_dir):
    df = S.concat_csvs_with_date(spark, csv_dir + "/*.csv")
    cleaned = S.clean_column_names(df)
    assert "Flow" in cleaned.columns and "CO" in cleaned.columns


def test_dense_time_id_both_strategies(spark, csv_dir):
    df = S.clean_column_names(S.concat_csvs_with_date(spark, csv_dir + "/*.csv"))
    a = S.with_dense_time_id(df, ["Date", "Time"])
    b = S.with_dense_time_id_distributed(df, ["Date", "Time"], num_partitions=3)
    rows_a = sorted((r["time_id"], r["Date"], r["Time"]) for r in a.collect())
    rows_b = sorted((r["time_id"], r["Date"], r["Time"]) for r in b.collect())
    assert rows_a == rows_b
    assert [r[0] for r in rows_a] == [1, 2, 3, 4]  # dense 1..N


def test_stage_timers_csv(tmp_path):
    t = StageTimers()
    with t.stage("parse"):
        pass
    t.record("get-data", 1.25)
    out = str(tmp_path / "timers.csv")
    t.save_csv(out)
    rows = list(csv.reader(open(out)))
    assert [r[0] for r in rows] == ["parse", "get-data"]
    assert float(rows[1][1]) == 1.25


def test_plot_spec_and_fallback_sink(spark, tmp_path):
    series = spark.createDataFrame(
        [(i, math.sin(i / 3.0)) for i in range(1, 101)], "time_id long, y double"
    )
    results = spark.createDataFrame(
        [(10, 5), (40, 8)], "time_id long, offset long"
    )
    out = str(tmp_path / "plot.png")
    path = plotting.save_plot(series, results, "tiny.y", out)
    if plotting.HAVE_MPL:
        assert path == out and os.path.exists(out)
    else:
        spec = json.load(open(path))
        assert spec["ylabel"] == "tiny.y"
        assert {(w["x0"], w["x1"]) for w in spec["windows"]} == {(10, 15), (40, 48)}
        assert len(spec["series"]) > 0


def test_cli_end_to_end(spark, tmp_path, capsys):
    from query_refinement_dsit_databases_2021_spark.cli import main

    table = str(tmp_path / "emg_data.parquet")
    spark.createDataFrame(
        [(i, 1.5 + math.sin(i / 7.0)) for i in range(1, 301)],
        "time_id long, emg1 double",
    ).write.mode("overwrite").parquet(table)
    qf = tmp_path / "query.txt"
    qf.write_text(
        "SELECT time_id, offset IN_DOMAIN [50, 150], [5, 20]\n"
        "FROM emg_data.emg1\nWHERE avg_amp() in [1, 2] MAX\nLIMIT REFINED 5\n"
    )
    out_dir = str(tmp_path / "obj")
    rc = main(
        [
            "--table", table, "--query", str(qf),
            "--out-dir", out_dir, "--plot", "--scores",
        ]
    )
    assert rc == 0
    captured = capsys.readouterr().out
    assert "5 result(s)" in captured
    assert "table emg_data" in captured
    # --scores must actually print the score column (rk on this
    # tighten path) — regression: the CLI once looked for a column
    # named "score" that the engine never emits
    assert "rk=" in captured
    assert os.path.exists(os.path.join(out_dir, "timers.csv"))


def test_cli_strategy_flag(spark, tmp_path, capsys):
    from query_refinement_dsit_databases_2021_spark.cli import main

    table = str(tmp_path / "emg_data.parquet")
    spark.createDataFrame(
        [(i, 1.5 + math.sin(i / 7.0)) for i in range(1, 301)],
        "time_id long, emg1 double",
    ).write.mode("overwrite").parquet(table)
    qf = tmp_path / "query.txt"
    qf.write_text(
        "SELECT time_id, offset IN_DOMAIN [50, 150], [5, 20]\n"
        "FROM emg_data.emg1\nWHERE avg_amp() in [1, 2] MAX\nLIMIT REFINED 5\n"
    )
    args = ["--table", table, "--query", str(qf), "--out-dir", str(tmp_path / "obj2")]
    # the strategy is derived from the measures, not chosen by a flag
    with pytest.raises(SystemExit):
        main(args + ["--strategy", "window"])
    capsys.readouterr()
    assert main(args) == 0
    assert "strategy=window" in capsys.readouterr().out


def test_cli_interactive_dataset_pick(spark, tmp_path, capsys, monkeypatch):
    """Reference-UX parity (src/client.py:103-121): with several
    --table options the CLI prompts a numbered pick, re-prompting on
    invalid input, then runs against the chosen dataset."""
    from query_refinement_dsit_databases_2021_spark.cli import main

    tables = []
    for name in ("emg_data", "gas_data"):
        path = str(tmp_path / f"{name}.parquet")
        spark.createDataFrame(
            [(i, 1.5 + math.sin(i / 7.0)) for i in range(1, 301)],
            "time_id long, emg1 double",
        ).write.mode("overwrite").parquet(path)
        tables.append(path)
    qf = tmp_path / "query.txt"
    qf.write_text(
        "SELECT time_id, offset IN_DOMAIN [50, 150], [5, 20]\n"
        "FROM gas_data.emg1\nWHERE avg_amp() in [1, 2] MAX\nLIMIT REFINED 5\n"
    )
    answers = iter(["7", "x", "2"])  # two invalid picks, then dataset 2
    monkeypatch.setattr("builtins.input", lambda: next(answers))
    rc = main(
        [
            "--table", tables[0], "--table", tables[1],
            "--query", str(qf), "--out-dir", str(tmp_path / "obj3"),
        ]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "Please enter a number to select a dataset" in out
    assert "Please choose a correct number" in out  # re-prompt happened
    assert "table gas_data" in out  # pick 2 won
    assert "5 result(s)" in out


def test_register_jdbc_wiring(spark, monkeypatch):
    """Engine.register_jdbc goes through sources.series.read_jdbc and
    lands in the same catalog/validation path as every other source
    (no JDBC driver ships in this container, so the reader seam is
    substituted; read_jdbc itself is a pass-through to spark.read.jdbc)."""
    from query_refinement_dsit_databases_2021_spark.plans.executor import Engine
    from query_refinement_dsit_databases_2021_spark.sources import series as src

    seen = {}

    def fake_read_jdbc(sp, url, table, **options):
        seen.update(url=url, table=table, options=options)
        return spark.createDataFrame(
            [(i, float(i % 5)) for i in range(1, 61)], "time_id long, y double"
        )

    monkeypatch.setattr(src, "read_jdbc", fake_read_jdbc)
    eng = Engine(spark)
    eng.register_jdbc(
        "emg", "jdbc:postgresql://localhost/emg", "emg_table", num_partitions=4
    )
    assert seen["url"].endswith("/emg") and seen["table"] == "emg_table"
    assert seen["options"] == {"num_partitions": 4}
    assert eng.list_tables() == {"emg": ["time_id", "y"]}
    got = eng.execute(
        "SELECT time_id, offset IN_DOMAIN [5, 40], [2, 6]\n"
        "FROM emg.y\nWHERE avg_amp() in [1, 3] MAX\nLIMIT 5"
    ).collect()
    assert len(got) == 5


def test_jsonl_roundtrip_and_corrupt_audit(spark, tmp_path):
    import json

    from query_refinement_dsit_databases_2021_spark.sources.corpus import (
        read_jsonl,
        write_jsonl,
    )

    rows = [
        {"doc_id": 1, "text": "a b c", "lang": "en", "source": "s0", "n_chars": 5},
        {"doc_id": 2, "text": "d e", "lang": "xx", "source": "s1", "n_chars": 3},
    ]
    p = tmp_path / "corpus.jsonl"
    lines = [json.dumps(r) for r in rows] + ["{not json"]
    p.write_text("\n".join(lines) + "\n")

    # cache: corrupt-record-only filters on a raw json scan are
    # disallowed (SPARK-21610, noted in the read_jsonl docstring)
    df = read_jsonl(spark, str(p)).cache()
    good = df.where(df["_corrupt_record"].isNull())
    bad = df.where(df["_corrupt_record"].isNotNull())
    assert sorted(r["doc_id"] for r in good.collect()) == [1, 2]
    assert bad.count() == 1  # audit channel, job survives

    # strict mode fails on the malformed line
    import pytest as _pytest

    with _pytest.raises(Exception):
        read_jsonl(spark, str(p), strict=True).collect()

    # roundtrip through sharded gzip jsonl preserves rows
    out = tmp_path / "out"
    write_jsonl(good.drop("_corrupt_record"), str(out))
    back = read_jsonl(spark, str(out) + "/*.json.gz")
    assert sorted(
        (r["doc_id"], r["text"]) for r in back.where("doc_id IS NOT NULL").collect()
    ) == [(1, "a b c"), (2, "d e")]


def test_orc_roundtrip_and_pushdown(spark, tmp_path):
    from query_refinement_dsit_databases_2021_spark.sources.columnar import (
        read_orc,
        write_orc,
    )

    df = spark.range(1000).selectExpr("id", "id % 7 AS k", "id * 1.5 AS v")
    p = str(tmp_path / "t_orc")
    write_orc(df, p)
    back = read_orc(spark, p)
    assert back.count() == 1000
    pruned = back.where("id > 900").select("id", "k")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    # ORC scans push filters and prune columns like parquet
    assert "PushedFilters: [" in plan and "GreaterThan(id,900)" in plan, plan
    assert "ReadSchema: struct<id:bigint,k:bigint>" in plan, plan


def test_partitioned_write_prunes_directories(spark, tmp_path):
    from query_refinement_dsit_databases_2021_spark.sources.columnar import (
        write_partitioned,
    )

    df = spark.range(400).selectExpr(
        "id", "CASE WHEN id % 2 = 0 THEN 'en' ELSE 'de' END AS lang"
    )
    p = str(tmp_path / "t_part")
    write_partitioned(df, p, ["lang"])
    import os

    assert sorted(
        d for d in os.listdir(p) if d.startswith("lang=")
    ) == ["lang=de", "lang=en"]
    back = spark.read.parquet(p).where("lang = 'en'")
    plan = back._jdf.queryExecution().executedPlan().toString()
    import re as _re

    assert _re.search(r"PartitionFilters: \[[^\]]*lang", plan), plan
    assert back.count() == 200


def test_compact_small_files(spark, tmp_path):
    from query_refinement_dsit_databases_2021_spark.sources.columnar import (
        compact_small_files,
        dir_bytes,
    )

    src = str(tmp_path / "tiny")
    # 64 tiny files
    spark.range(20000).selectExpr("id", "id * 2 AS v").repartition(
        64
    ).write.parquet(src)
    import glob

    assert len(glob.glob(f"{src}/part-*.parquet")) == 64
    dest = str(tmp_path / "compact")
    total = dir_bytes(spark, src)
    n = compact_small_files(
        spark, src, dest, target_file_bytes=max(total // 3, 1)
    )
    out_files = glob.glob(f"{dest}/part-*.parquet")
    assert len(out_files) == n <= 4
    assert spark.read.parquet(dest).count() == 20000
    # refuse in-place compaction
    import pytest as _pytest

    with _pytest.raises(ValueError):
        compact_small_files(spark, src, src)


def test_compact_splits_oversized_files_via_repartition(spark, tmp_path):
    from query_refinement_dsit_databases_2021_spark.sources.columnar import (
        compact_small_files,
        dir_bytes,
    )

    src = str(tmp_path / "big")
    spark.range(50000).selectExpr("id", "id * 3 AS v").coalesce(1).write.parquet(src)
    import glob

    assert len(glob.glob(f"{src}/part-*.parquet")) == 1
    dest = str(tmp_path / "split")
    total = dir_bytes(spark, src)
    # target 1/4 of the single file -> MORE files than read splits:
    # the repartition fallback must actually produce them
    n = compact_small_files(spark, src, dest, target_file_bytes=max(total // 4, 1))
    assert n >= 2
    assert len(glob.glob(f"{dest}/part-*.parquet")) == n
    assert spark.read.parquet(dest).count() == 50000
