"""Candidate generation: the distributed "UDF map".

The reference materializes a Python dict ``"x+lx" -> {constraint ->
value}`` by a double loop over both decision domains
(reference:src/server.py:291-351). Here that matrix is a DataFrame
``(x, lx, m_<constraint>, ...)`` built by strategy W, or by strategy P
when a query uses a measure W cannot express:

**W — running window aggregates.** One ``collect_list`` frame over
``ROWS BETWEEN CURRENT ROW AND l1 FOLLOWING`` gives each start row
``x`` its forward points ``y[x .. x+l1]``, each carrying the max of
every right neighbourhood that starts there (one ``max(y)`` frame per
distinct ``w``). ``posexplode`` turns the list into one row per offset
``lx``, and running ``sum``/``max``/``min`` over ``PARTITION BY x
ORDER BY lx`` read the window ``y[x .. x+lx]`` in O(1) per candidate.
One ``max(y)`` frame per distinct left neighbourhood rides on the start
row. The plan has the same shape for any offset count; work is
O(N · l1) for the frames plus O(1) per candidate.

**P — Arrow-batched NumPy kernels** (``applyInPandas``), for measures
such as ``median_amp`` that are not running aggregates.

Both strategies avoid a single-partition global sort: the segment is
range-partitioned into blocks of ``partition_rows`` and rows within
each block's *halo reach* are duplicated into the neighbouring block,
so window frames never cross a partition boundary while edge clamping
still happens only at the true segment edges (SURVEY §4 O14).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from query_refinement_dsit_databases_2021_spark.errors import QueryError
from query_refinement_dsit_databases_2021_spark.operators.measures import (
    REGISTRY,
    WindowCtx,
)
from query_refinement_dsit_databases_2021_spark.plans.spec import QuerySpec

# Rows per range-partition block of the series segment. Halo overhead
# is O(reach/block); 64k keeps it <1% for reference-sized reaches while
# giving a 32-way local executor real parallelism. On a 1000-executor
# cluster raise via Engine(partition_rows=...) to ~2-16M so block count
# tracks executor count at 100 TB.
DEFAULT_PARTITION_ROWS = 1 << 16


def _dedup_constraints(spec: QuerySpec):
    """Unique (measure, args) pairs keyed by output column name."""
    seen: dict[str, tuple] = {}
    for con in spec.constraints:
        if con.name not in REGISTRY:
            raise QueryError(f"ERROR at constraint variable name: {con.name}")
        if con.column not in seen:
            seen[con.column] = (REGISTRY[con.name], con.args)
    return seen


def pick_strategy(spec: QuerySpec) -> str:
    """``"window"``, or ``"pandas"`` when a measure is non-native (e.g.
    ``median_amp`` or a ``PythonKernelMeasure``)."""
    for con in spec.constraints:
        mdef = REGISTRY.get(con.name)
        if mdef is not None and not mdef.native:
            return "pandas"
    return "window"


def build_candidates(
    segment: DataFrame,
    spec: QuerySpec,
    t_start: int,
    t_end: int,
    strategy: str = "auto",
    partition_rows: int | None = None,
) -> DataFrame:
    """segment: DataFrame[time_id long, y double], dense over
    [t_start, t_end] with non-null y (already range-filtered to
    [x0, x1+l1] ∩ data).

    Returns DataFrame[x long, lx int, m_* double] with one row per
    in-data candidate: x ∈ [x0, x1] ∩ [t_start, ..], x+lx <= t_end.
    (Candidates whose window would leave the data are dropped; the
    reference crashes on them — documented divergence.)
    """
    l0, l1 = spec.lx_domain
    if l0 is None or l1 is None or not spec.resolved:
        raise QueryError("ERROR: domains must be resolved before planning")
    if l0 < 0:
        raise QueryError("ERROR: offset domain must be non-negative")
    if l1 < l0 or spec.x_domain[1] < spec.x_domain[0]:
        raise QueryError("ERROR: empty decision domain")

    if strategy == "auto":
        strategy = pick_strategy(spec)
    if strategy not in ("window", "pandas"):
        raise QueryError(f"unknown strategy: {strategy}")

    # both strategies evaluate each block's frames over the same
    # halo-complete blocks, sized by the widest measure reach
    measures = _dedup_constraints(spec)
    reach_fwd, reach_bwd = 0, 0
    for mdef, args in measures.values():
        f, b = mdef.w_reach(l1, args)
        reach_fwd, reach_bwd = max(reach_fwd, f), max(reach_bwd, b)
    block = _block_size(partition_rows, reach_fwd, reach_bwd)
    seg2, true_pid = _halo_partition(
        segment, t_start, t_end, block, reach_fwd, reach_bwd
    )
    if strategy == "window":
        out = _build_window(seg2, true_pid, spec, measures)
    else:
        out = _build_pandas(seg2, spec, measures, t_start, t_end, block)
    # Stabilize measures to 9 dp: strategy W sums left to right in
    # Spark, strategy P in NumPy, and the DuckDB oracle in its own
    # order, so a candidate whose true measure sits exactly on a
    # constraint bound would otherwise pass under one and fail under
    # another (last-bit noise around `between`). The declarative
    # contract is real arithmetic; 9 dp >> the ~1e-14 noise and makes
    # pass/fail and ranking agree. The generated DuckDB oracle applies
    # the same rounding.
    meas = [c for c in out.columns if c not in ("x", "lx")]
    return out.select(
        "x", "lx", *[F.round(F.col(c), 9).alias(c) for c in meas]
    )


# ---------------------------------------------------------------------------
# halo partitioning
# ---------------------------------------------------------------------------

def _halo_partition(
    segment: DataFrame,
    t_start: int,
    t_end: int,
    block: int,
    reach_fwd: int,
    reach_bwd: int,
) -> tuple[DataFrame, "F.Column"]:
    """Assign each row a block id ``wpid`` and duplicate rows within
    the halo reach into the neighbouring block. Returns (exploded df,
    true-pid expression) — filter ``wpid == true_pid`` after windowing
    to drop halo evaluation rows."""
    n_blocks = (t_end - t_start) // block + 1
    pid = ((F.col("time_id") - F.lit(t_start)) / F.lit(block)).cast("long")
    off = (F.col("time_id") - F.lit(t_start)) % F.lit(block)

    targets = [pid]
    if reach_fwd > 0:
        # rows at the head of block p also serve block p-1's frames
        targets.append(F.when((off < F.lit(reach_fwd)) & (pid > 0), pid - 1))
    if reach_bwd > 0:
        targets.append(
            F.when(
                (off >= F.lit(block - reach_bwd)) & (pid < F.lit(n_blocks - 1)),
                pid + 1,
            )
        )
    pids = F.array_compact(F.array(*targets)) if len(targets) > 1 else F.array(*targets)
    out = segment.select(
        F.explode(pids).alias("wpid"), "time_id", "y"
    )
    return out, pid


def _block_size(partition_rows: int | None, reach_fwd: int, reach_bwd: int) -> int:
    block = partition_rows or DEFAULT_PARTITION_ROWS
    # halo must fit inside one neighbouring block
    return max(block, 2 * (reach_fwd + reach_bwd + 1))


# ---------------------------------------------------------------------------
# strategy W: running window aggregates
# ---------------------------------------------------------------------------

def _build_window(
    seg2: DataFrame,
    true_pid: "F.Column",
    spec: QuerySpec,
    measures: dict[str, tuple],
) -> DataFrame:
    x0, x1 = spec.x_domain
    l0, l1 = spec.lx_domain
    for mdef, _args in measures.values():
        if not mdef.native:
            raise QueryError(
                f"ERROR: measure {mdef.name!r} has no native window form; "
                "build it with strategy 'pandas' (pick_strategy chooses "
                "it for a query that uses the measure)"
            )

    # measure expressions first: they record the aggregates and the
    # neighbourhood frames the build must compute
    ctx = WindowCtx(lx=F.col("lx"))
    measure_exprs = {
        col_name: mdef.w_expr(ctx, args).cast("double")
        for col_name, (mdef, args) in measures.items()
    }
    rights = [f"rmax_{rw}" for rw in sorted(ctx.right_ws)]
    lefts = [f"lmax_{lw}" for lw in sorted(ctx.left_ws)]

    w = Window.partitionBy("wpid").orderBy("time_id")
    points = seg2.select(
        "wpid",
        "time_id",
        "y",
        *[
            F.max("y").over(w.rowsBetween(0, rw)).alias(f"rmax_{rw}")
            for rw in sorted(ctx.right_ws)
        ],
    )
    fwd = F.collect_list(F.struct("y", *rights)).over(w.rowsBetween(0, l1))
    starts = (
        points.select(
            "wpid",
            "time_id",
            fwd.alias("fwd"),
            *[
                F.max("y").over(w.rowsBetween(-lw, 0)).alias(f"lmax_{lw}")
                for lw in sorted(ctx.left_ws)
            ],
        )
        # drop halo evaluation rows; keep candidate starts only
        .where((F.col("wpid") == true_pid) & F.col("time_id").between(x0, x1))
    )
    # the list ends at the segment end, so every exploded window is
    # complete: x + lx <= t_end
    cands = starts.select(
        "wpid",
        F.col("time_id").alias("x"),
        *lefts,
        F.posexplode("fwd").alias("lx", "p"),
    )
    run = (
        Window.partitionBy("wpid", "x")
        .orderBy("lx")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cands = cands.select(
        "x",
        "lx",
        *lefts,
        *[F.col(f"p.{r}").alias(r) for r in rights],
        *[
            getattr(F, fn)("p.y").over(run).alias(f"win_{fn}")
            for fn in sorted(ctx.aggs)
        ],
    )
    return cands.where(F.col("lx") >= l0).select(
        "x", "lx", *[e.alias(n) for n, e in measure_exprs.items()]
    )


# ---------------------------------------------------------------------------
# strategy P: Arrow-batched Python kernels (the UDF escape hatch)
# ---------------------------------------------------------------------------

def _build_pandas(
    seg2: DataFrame,
    spec: QuerySpec,
    measures: dict[str, tuple],
    t_start: int,
    t_end: int,
    block: int,
) -> DataFrame:
    """Evaluate measures through their ``py_kernel`` — the reference's
    own UDF contract ``f(series, x, lx, args) -> float``
    (reference:src/server.py:960-1016) — with ``applyInPandas`` over
    halo-complete blocks. This is the compatibility path for measures
    strategy W can't express (median, user Python kernels);
    it distributes the reference's single-process UDF-map build
    (reference:src/server.py:291-351) across block partitions, at
    Python-kernel cost per candidate. Prefer W when expressible.

    Scale shape: one Arrow exchange of the (haloed) segment, then
    embarrassingly parallel per-block NumPy; no driver collect, state
    per task = one block + halo."""
    import pandas as pd

    x0, x1 = spec.x_domain
    l0, l1 = spec.lx_domain
    meas_items = list(measures.items())  # [(col_name, (mdef, args))]

    schema = "x long, lx int, " + ", ".join(
        f"{name} double" for name in measures
    )
    out_cols = ["x", "lx", *measures.keys()]

    def compute(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("time_id")
        y = pdf["y"].to_numpy()
        t0b = int(pdf["time_id"].iloc[0])
        wpid = int(pdf["wpid"].iloc[0])
        # true block bounds (halo rows only feed neighbouring windows)
        blk_lo = t_start + wpid * block
        blk_hi = min(blk_lo + block - 1, t_end)
        rows = []
        for x in range(max(blk_lo, x0), min(blk_hi, x1) + 1):
            i = x - t0b
            left_gap = x - t_start
            for lx in range(l0, l1 + 1):
                if x + lx > t_end:  # complete-window guard (as W)
                    break
                right_gap = t_end - (x + lx)
                rows.append(
                    (x, lx)
                    + tuple(
                        mdef.py_kernel(y, i, lx, args, left_gap, right_gap)
                        for _n, (mdef, args) in meas_items
                    )
                )
        return pd.DataFrame(rows, columns=out_cols)

    return seg2.groupBy("wpid").applyInPandas(compute, schema)
