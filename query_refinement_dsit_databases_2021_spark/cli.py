"""CLI entry point (SURVEY §3.1 / §7.1 item 6) — the Spark analogue of
the reference's ``python3 client.py`` flow (reference:src/client.py:13-65):

1. pick the series table (a parquet path instead of a Postgres DB),
2. read the query text from a file (or stdin with ``-``),
3. show the catalog readout (S6),
4. execute through the engine,
5. print the result pairs (K4), save the plot (K1) and stage-timer
   CSV (K3) with the reference's stage names where they still exist.

Usage::

    python -m query_refinement_dsit_databases_2021_spark.cli \
        --table PATH.parquet --name emg_data --query query.txt \
        [--column emg1] [--out-dir obj] [--plot] [--scores]
"""

from __future__ import annotations

import argparse
import os
import sys

from query_refinement_dsit_databases_2021_spark.plans.executor import Engine
from query_refinement_dsit_databases_2021_spark.plans.parser import parse_query
from query_refinement_dsit_databases_2021_spark.plotting import save_plot
from query_refinement_dsit_databases_2021_spark.session import get_spark
from query_refinement_dsit_databases_2021_spark.sources.series import load_series
from query_refinement_dsit_databases_2021_spark.timers import StageTimers


def build_arg_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="query_refinement_dsit_databases_2021_spark",
        description="CP window-query engine with automatic refinement (PySpark)",
    )
    p.add_argument(
        "--table",
        required=True,
        action="append",
        help="series table parquet path (repeatable; with several, the "
        "dataset is picked interactively like the reference client)",
    )
    p.add_argument("--name", default=None, help="table name in the query (default: file stem)")
    p.add_argument("--query", required=True, help="query text file, or - for stdin")
    p.add_argument("--out-dir", default="obj", help="sink dir for plot + timers")
    p.add_argument("--plot", action="store_true", help="save the result plot (K1)")
    p.add_argument("--scores", action="store_true", help="include RK/RP score column")
    p.add_argument(
        "--cache-dir",
        default=None,
        help="parquet candidate store (K2): every build is written here "
        "and later queries on the same data, domains and measures read it",
    )
    p.add_argument("--master", default=None, help="spark master override")
    return p


def pick_dataset(tables: list[str]) -> str:
    """Interactive dataset selection, mirroring the reference's
    numbered stdin loop (reference:src/client.py:103-121): print the
    options, re-prompt until a valid number is entered."""
    if len(tables) == 1:
        return tables[0]
    print("\nPlease enter a number to select a dataset:")
    for i, path in enumerate(tables, 1):
        stem = os.path.splitext(os.path.basename(path))[0]
        print(f"{i}: {stem} - {path}")
    while True:
        try:
            x = input()
        except EOFError:
            raise SystemExit(
                "stdin closed before a dataset was picked — pass a single "
                "--table for non-interactive runs"
            )
        # isdecimal, not isdigit: superscript digits pass isdigit but
        # crash int()
        if x.isdecimal() and 1 <= int(x) <= len(tables):
            return tables[int(x) - 1]
        print("Please choose a correct number")


def main(argv: list[str] | None = None) -> int:
    args = build_arg_parser().parse_args(argv)
    t = StageTimers()

    with t.stage("connect"):
        kw = {"app_name": "qr-cli"}
        if args.master:
            kw["master"] = args.master
        spark = get_spark(**kw)

    if args.query == "-" and len(args.table) > 1:
        raise SystemExit(
            "--query - consumes stdin, which the interactive dataset pick "
            "also needs; pass a single --table or a query file"
        )
    with t.stage("read-query"):
        if args.query == "-":
            text = sys.stdin.read()
        else:
            with open(args.query) as f:
                text = f.read()

    with t.stage("parse"):
        spec = parse_query(text)

    table = pick_dataset(args.table)
    name = args.name or os.path.splitext(os.path.basename(table))[0]
    engine = Engine(spark, cache_dir=args.cache_dir)
    with t.stage("get-data"):
        engine.register_parquet(name, table)

    # catalog readout (S6, reference:src/client.py:124-146)
    for tbl, cols in engine.list_tables().items():
        print(f"table {tbl}: {', '.join(cols)}")

    with t.stage("build-UDF-map"):
        result = engine.execute(spec, include_scores=args.scores)
        rows = result.collect()

    info = engine.last_info
    print(
        f"action={info.action} strategy={info.strategy} "
        f"candidates={info.udf_size} passing={info.n_passing} "
        f"candidates_from={info.candidates_from}"
    )
    # K4: result-pair print (reference:src/server.py:888-898)
    score_col = next((c for c in result.columns if c in ("rk", "rp")), None)
    for r in rows:
        extra = (
            f"  {score_col}={r[score_col]:.6f}"
            if args.scores and score_col
            else ""
        )
        print(f"time_id = {r['time_id']}, offset = {r['offset']}{extra}")
    print(f"{len(rows)} result(s)")

    os.makedirs(args.out_dir, exist_ok=True)
    if args.plot:
        with t.stage("rank-at-client"):
            series = load_series(engine._tables[name], spec.column)
            path = save_plot(
                series,
                result,
                ylabel=f"{name}.{spec.column}",
                out_path=os.path.join(args.out_dir, "result_plot.png"),
            )
        print(f"plot: {path}")

    timer_path = os.path.join(args.out_dir, "timers.csv")
    t.save_csv(timer_path)
    print(f"timers: {timer_path}")
    return 0


if __name__ == "__main__":  # pragma: no cover
    raise SystemExit(main())
