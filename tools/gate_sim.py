"""Local simulation of the external driver's correctness gate, strict
form: for every workload in the gate window (the first GATE_WINDOW names
of ``workloads.gate_order``), run the Spark query AND the
DuckDB oracle at the gate SF and require

- identical row counts,
- identical column names,
- compatible dtype kinds (int vs float vs object vs bool) after each
  side's pandas conversion — the r01 HUGEINT incident class,
- BIT-IDENTICAL values for every cell (floats compared with exact
  equality, no tolerance): the repo's determinism contracts claim
  bit-identity, so anything weaker would hide a latent hash mismatch.

Rows are sorted by all columns (column names sorted first) before the
compare, mirroring the driver's order-insensitive value hash.

Usage: python tools/gate_sim.py [--sf-dir /root/testdata/sf0.01] [--all]
       python tools/gate_sim.py --names 'ts_*,pipe_ann_pq_adc'
"""

from __future__ import annotations

import argparse
import os
import sys

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def _kind(dtype) -> str:
    k = np.dtype(dtype).kind if dtype != object else "O"
    return {"i": "int", "u": "int", "f": "float", "b": "bool", "O": "obj"}.get(
        str(k), str(k)
    )


def _canon(df):
    import pandas as pd

    df = df[sorted(df.columns)]
    # DATE normalization: duckdb's .df() renders DATE as datetime64
    # while Spark's toPandas gives datetime.date objects — externally a
    # certified-equal class (green r01 sql_events_rollup row carries a
    # DATE column), so fold both to datetime.date before comparing
    for c in df.columns:
        if np.dtype(df[c].dtype).kind == "M":
            df = df.assign(**{c: pd.to_datetime(df[c]).dt.date})
    # NaN-safe stable sort over all columns; object columns stringified
    # for ordering only (values compared on the originals)
    key = df.astype(str).apply(tuple, axis=1)
    return df.iloc[key.argsort(kind="stable").to_numpy()].reset_index(drop=True)


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    p.add_argument(
        "--all", action="store_true", help="check the full registry, not just the gate"
    )
    p.add_argument(
        "--names",
        default=None,
        help="comma-separated workload names to check (overrides --all/gate);"
        " a name ending in * matches every workload with that prefix",
    )
    args = p.parse_args()

    import duckdb

    from query_refinement_dsit_databases_2021_spark import get_spark
    from query_refinement_dsit_databases_2021_spark.workloads import (
        GATE_WINDOW,
        TABLES,
        gate_order,
        workloads,
    )

    spark = get_spark(app_name="gate_sim")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{args.sf_dir}/{t}.parquet')"
        )
    ws = workloads()
    if args.names:
        names = []
        for n in filter(None, (n.strip() for n in args.names.split(","))):
            hits = [w for w in ws if w.startswith(n[:-1])] if n.endswith("*") else [n]
            names += [w for w in hits if w not in names]
    else:
        names = list(ws) if args.all else gate_order(list(ws), ROOT)[:GATE_WINDOW]
    failures = []
    for i, name in enumerate(names):
        w = ws[name]
        try:
            sp = _canon(w.fn(spark, args.sf_dir).toPandas())
            du = _canon(con.execute(w.oracle).df())
        except Exception as ex:  # noqa: BLE001 - report, keep sweeping
            failures.append((name, f"run error: {ex}"))
            print(f"[{i + 1}/{len(names)}] {name}: ERROR {ex}", flush=True)
            continue
        probs = []
        if list(sp.columns) != list(du.columns):
            probs.append(f"columns {list(sp.columns)} vs {list(du.columns)}")
        elif len(sp) != len(du):
            probs.append(f"rows {len(sp)} vs {len(du)}")
        else:
            for c in sp.columns:
                ks, kd = _kind(sp[c].dtype), _kind(du[c].dtype)
                if ks != kd:
                    probs.append(f"{c}: dtype kind {ks} vs {kd}")
                    continue
                a, b = sp[c].to_numpy(), du[c].to_numpy()
                if ks == "float":
                    same = (
                        (a == b) | (np.isnan(a.astype(float)) & np.isnan(b.astype(float)))
                    ).all()
                else:
                    same = (
                        (a == b)
                        | ((a != a) & (b != b))  # NaN/None in object cols
                        | ((a == None) & (b == None))  # noqa: E711
                    ).all()
                if not same:
                    bad = int((~(a == b)).sum())
                    probs.append(f"{c}: {bad} non-bit-identical cells")
        status = "OK" if not probs else "; ".join(probs)
        print(f"[{i + 1}/{len(names)}] {name}: {status}", flush=True)
        if probs:
            failures.append((name, status))
    print(
        f"\ngate_sim: {len(names) - len(failures)}/{len(names)} bit-identical"
    )
    for name, why in failures:
        print(f"  FAIL {name}: {why}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
