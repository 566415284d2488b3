"""Interval-aggregate measure ("constraint UDF") registry.

The reference's extension point is a name-registered family of
per-window scalar functions ``f(series, x, lx, args) -> float``
(reference:src/client.py:160, reference:src/server.py:960-1016). Here
each measure is a *builder of native Column expressions* over one of
two physical encodings of the series segment (see
``operators/candidates.py``):

- **window strategy** ("W"): one forward frame collects each start
  row's values ``y[x .. x+reach]``; every measure is an array
  expression over a slice of it, so the plan shape does not grow with
  the offset domain — best when that domain is small (all committed
  reference queries: ≤ 46 values).
- **sparse strategy** ("S"): prefix sums + doubling max tables
  (sparse table / RMQ), then per-candidate equi-join lookups —
  O(N log L + |candidates|) work, the 100 TB path for large domains.

Semantics are pinned to the reference kernels:

- ``avg_amp``: mean of ``y`` over ``[x, x+lx]`` inclusive both ends
  (reference:src/server.py:960-964, dispatch :330-335).
- ``max_amp_excess_right(w)``: ``max(y[x..x+lx]) − max(y[x'..x'+lx'])``
  with ``x' = x+lx`` and ``lx' = min(w, t_end − x')`` — the boundary
  point belongs to BOTH windows and the neighborhood clamps at the
  *fetched segment's* max time (reference:src/server.py:967-992).
- ``max_amp_excess_left(w)``: ``max(y[x..x+lx]) − max(y[x−w'..x])``
  with ``w' = min(w, x − t_start)``, clamped at the segment's min time
  (reference:src/server.py:995-1016).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# exact integer helpers (no float-log pitfalls)
# ---------------------------------------------------------------------------

def int_log2(m: Column) -> Column:
    """floor(log2(m)) for integer m >= 1, computed exactly via the
    length of the base-2 string representation (no libm rounding)."""
    return (F.length(F.conv(m.cast("string"), 10, 2)) - F.lit(1)).cast("int")


def pow2(j: Column) -> Column:
    """2**j as a long (exact for j <= 52)."""
    return F.pow(F.lit(2.0), j.cast("double")).cast("long")


# ---------------------------------------------------------------------------
# sparse-strategy lookup context
# ---------------------------------------------------------------------------

@dataclass
class SparseCtx:
    """Collects the helper-table lookups a measure expression needs.

    A lookup is an equi-join of the candidates table to the helper
    table at position ``pos`` (a Column expression over ``x``/``lx``),
    pulling field ``y``, ``S`` (inclusive prefix sum) or ``M`` (array
    of doubling-max levels). Identical positions are deduplicated so
    the physical plan performs one join per distinct position.
    """

    x: Column
    lx: Column
    t_start: int
    t_end: int
    # key -> (pos_expr, set of fields)
    lookups: dict[str, tuple[Column, set]] = field(default_factory=dict)
    _names: dict[str, str] = field(default_factory=dict)

    def _register(self, pos: Column, fld: str) -> str:
        key = pos._jc.toString() if hasattr(pos, "_jc") else str(pos)
        if key not in self.lookups:
            self.lookups[key] = (pos, set())
            self._names[key] = f"p{len(self._names)}"
        self.lookups[key][1].add(fld)
        return self._names[key]

    def col_at(self, pos: Column, fld: str) -> Column:
        """Column `fld` of the helper row whose time_id == pos."""
        name = self._register(pos, fld)
        return F.col(f"{name}_{fld}")

    def interval_max(self, start: Column, length: Column) -> Column:
        """max(y) over [start, start+length-1] via two sparse-table
        lookups: max(M_j[start], M_j[start+length-2^j]) with
        j = floor(log2(length))."""
        j = int_log2(length)
        p2 = start + length - pow2(j)
        return F.greatest(
            F.element_at(self.col_at(start, "M"), j + 1),
            F.element_at(self.col_at(p2, "M"), j + 1),
        )

    def interval_min(self, start: Column, length: Column) -> Column:
        """min(y) over [start, start+length-1] — same doubling trick
        over the ``Mn`` (doubling-min) levels."""
        j = int_log2(length)
        p2 = start + length - pow2(j)
        return F.least(
            F.element_at(self.col_at(start, "Mn"), j + 1),
            F.element_at(self.col_at(p2, "Mn"), j + 1),
        )


# ---------------------------------------------------------------------------
# measure definitions
# ---------------------------------------------------------------------------

def array_sum(arr: Column) -> Column:
    """Left-to-right sum from 0.0: the accumulation order of Spark's
    sliding-frame ``Sum``/``Average``, so strategy W's sums are
    bit-identical to a ``sum(y) OVER (... FOLLOWING)`` frame."""
    return F.aggregate(arr, F.lit(0.0), lambda acc, v: acc + v)


@dataclass
class WindowCtx:
    """What a measure's strategy-W expression reads for one candidate.

    ``fwd`` is the start row's forward values ``y[x .. x+reach]`` in
    time order (clamped at the segment end) and ``lx`` the candidate's
    offset. A left-neighbourhood max is one ``max(y)`` frame per
    distinct ``w``; :meth:`left_max` records the ``w`` it is asked for
    so the builder computes only those frames (as :class:`SparseCtx`
    collects its lookups)."""

    fwd: Column
    lx: Column
    left_ws: set[int] = field(default_factory=set)

    @property
    def win(self) -> Column:
        """The window ``y[x .. x+lx]``."""
        return F.slice(self.fwd, 1, self.lx + 1)

    def right(self, w: int) -> Column:
        """The right neighbourhood ``y[x+lx .. min(x+lx+w, t_end)]``:
        it shares the window's last point and clamps at the segment
        end because ``fwd`` does."""
        return F.slice(self.fwd, self.lx + 1, F.lit(w + 1))

    def left_max(self, w: int) -> Column:
        """``max(y[max(x-w, t_start) .. x])``."""
        self.left_ws.add(w)
        return F.col(f"lmax_{w}")


class MeasureDef:
    """Base class; subclasses implement the physical strategies.

    ``native`` measures implement W (array expressions over a forward
    frame, see :class:`WindowCtx`) and S (sparse table) as Column
    builders — the JVM-side fast paths. Every measure additionally
    implements ``py_kernel``, the Arrow-batched escape
    hatch (strategy P, ``candidates._build_pandas``): the reference's
    own kernel contract ``f(series, x, lx, args) -> float``
    (reference:src/server.py:960-1016) evaluated per candidate over a
    halo-complete NumPy block. Non-native measures (``native=False``)
    run only under strategy P; the planner auto-selects it."""

    name: str = ""
    n_args: int = 0
    native: bool = True

    # --- strategy W -------------------------------------------------
    def w_expr(self, ctx: WindowCtx, args: tuple) -> Column:
        raise NotImplementedError

    def w_reach(self, l1: int, args: tuple) -> tuple[int, int]:
        """(forward, backward) halo row reach required at partition
        boundaries for this measure's window/kernel accesses. Used by
        BOTH strategy W and strategy P to size halo duplication."""
        raise NotImplementedError

    # --- strategy S -------------------------------------------------
    def s_expr(self, ctx: SparseCtx, args: tuple) -> Column:
        raise NotImplementedError

    def s_max_interval(self, l1: int, args: tuple) -> int:
        """Longest max-interval this measure queries (sizes the sparse
        table depth); 0 if it needs no max intervals."""
        return 0

    def s_min_interval(self, l1: int, args: tuple) -> int:
        """Longest MIN-interval this measure queries; 0 if it needs no
        doubling-min levels (the builder then skips the ``Mn`` table)."""
        return 0

    # --- strategy P (Arrow/pandas escape hatch) ---------------------
    def py_kernel(
        self,
        y,  # np.ndarray: the block's series values (halo-complete)
        i: int,  # window start index into y
        lx: int,
        args: tuple,
        left_gap: int,  # x - t_start (rows available before x globally)
        right_gap: int,  # t_end - (x + lx) (rows after the window end)
    ) -> float:
        raise NotImplementedError


class AvgAmp(MeasureDef):
    name = "avg_amp"
    n_args = 0

    def w_expr(self, ctx, args):
        # sum / count, as Spark's Average evaluates
        return array_sum(ctx.win) / (ctx.lx + F.lit(1)).cast("double")

    def w_reach(self, l1, args):
        return (l1, 0)

    def s_expr(self, ctx, args):
        # mean over [x, x+lx] = (S[x+lx] - S[x] + y[x]) / (lx + 1)
        s_end = ctx.col_at(ctx.x + ctx.lx, "S")
        s_x = ctx.col_at(ctx.x, "S")
        y_x = ctx.col_at(ctx.x, "y")
        return (s_end - s_x + y_x) / (ctx.lx + F.lit(1)).cast("double")

    def py_kernel(self, y, i, lx, args, left_gap, right_gap):
        return float(y[i : i + lx + 1].mean())


class MaxAmpExcessRight(MeasureDef):
    name = "max_amp_excess_right"
    n_args = 1

    def w_expr(self, ctx, args):
        return F.array_max(ctx.win) - F.array_max(ctx.right(args[0]))

    def w_reach(self, l1, args):
        return (l1 + args[0], 0)

    def s_expr(self, ctx, args):
        w = args[0]
        x_prime = ctx.x + ctx.lx
        lx_prime = F.least(F.lit(w).cast("long"), F.lit(ctx.t_end) - x_prime)
        win = ctx.interval_max(ctx.x, ctx.lx + F.lit(1))
        nbr = ctx.interval_max(x_prime, lx_prime + F.lit(1))
        return win - nbr

    def s_max_interval(self, l1, args):
        return max(l1 + 1, args[0] + 1)

    def py_kernel(self, y, i, lx, args, left_gap, right_gap):
        # boundary point x+lx in BOTH windows; neighborhood clamped at
        # the segment end (reference:src/server.py:978-992)
        w = args[0]
        j = i + lx
        lxp = min(w, right_gap)
        return float(y[i : j + 1].max() - y[j : j + lxp + 1].max())


class MaxAmpExcessLeft(MeasureDef):
    name = "max_amp_excess_left"
    n_args = 1

    def w_expr(self, ctx, args):
        return F.array_max(ctx.win) - ctx.left_max(args[0])

    def w_reach(self, l1, args):
        return (l1, args[0])

    def s_expr(self, ctx, args):
        w = args[0]
        w_prime = F.least(F.lit(w).cast("long"), ctx.x - F.lit(ctx.t_start))
        win = ctx.interval_max(ctx.x, ctx.lx + F.lit(1))
        nbr = ctx.interval_max(ctx.x - w_prime, w_prime + F.lit(1))
        return win - nbr

    def s_max_interval(self, l1, args):
        return max(l1 + 1, args[0] + 1)

    def py_kernel(self, y, i, lx, args, left_gap, right_gap):
        # boundary point x shared; clamped at the segment start
        # (reference:src/server.py:1006-1015)
        w = args[0]
        wp = min(w, left_gap)
        return float(y[i : i + lx + 1].max() - y[i - wp : i + 1].max())


# ---------------------------------------------------------------------------
# extension measures (beyond the reference's three kernels) — they share
# the same f(series, x, lx) -> float contract and both physical paths
# ---------------------------------------------------------------------------

class SumAmp(MeasureDef):
    """Total amplitude over the window: sum(y[x..x+lx])."""

    name = "sum_amp"
    n_args = 0

    def w_expr(self, ctx, args):
        return array_sum(ctx.win)

    def w_reach(self, l1, args):
        return (l1, 0)

    def s_expr(self, ctx, args):
        s_end = ctx.col_at(ctx.x + ctx.lx, "S")
        s_x = ctx.col_at(ctx.x, "S")
        y_x = ctx.col_at(ctx.x, "y")
        return s_end - s_x + y_x

    def py_kernel(self, y, i, lx, args, left_gap, right_gap):
        return float(y[i : i + lx + 1].sum())


class MinAmp(MeasureDef):
    """Minimum amplitude over the window: min(y[x..x+lx])."""

    name = "min_amp"
    n_args = 0

    def w_expr(self, ctx, args):
        return F.array_min(ctx.win)

    def w_reach(self, l1, args):
        return (l1, 0)

    def s_expr(self, ctx, args):
        return ctx.interval_min(ctx.x, ctx.lx + F.lit(1))

    def s_min_interval(self, l1, args):
        return l1 + 1

    def py_kernel(self, y, i, lx, args, left_gap, right_gap):
        return float(y[i : i + lx + 1].min())


class RangeAmp(MeasureDef):
    """Amplitude spread over the window: max(y) − min(y) on
    [x, x+lx] — composes the doubling-max and doubling-min tables."""

    name = "range_amp"
    n_args = 0

    def w_expr(self, ctx, args):
        return F.array_max(ctx.win) - F.array_min(ctx.win)

    def w_reach(self, l1, args):
        return (l1, 0)

    def s_expr(self, ctx, args):
        win = ctx.lx + F.lit(1)
        return ctx.interval_max(ctx.x, win) - ctx.interval_min(ctx.x, win)

    def s_max_interval(self, l1, args):
        return l1 + 1

    def s_min_interval(self, l1, args):
        return l1 + 1

    def py_kernel(self, y, i, lx, args, left_gap, right_gap):
        win = y[i : i + lx + 1]
        return float(win.max() - win.min())


# ---------------------------------------------------------------------------
# non-native measures: semantics the built-in window/sparse operators
# cannot express — they run on strategy P (applyInPandas), which the
# planner auto-selects when such a measure appears in a query
# ---------------------------------------------------------------------------

class MedianAmp(MeasureDef):
    """Exact median of ``y`` over [x, x+lx]. Spark's ``median``/
    ``percentile`` aggregates reject window frames
    (INVALID_WINDOW_SPEC_FOR_AGGREGATION_FUNC) and an exact median is
    not decomposable into prefix/doubling tables, so this is the
    canonical escape-hatch measure: NumPy ``median`` per candidate
    window under strategy P."""

    name = "median_amp"
    n_args = 0
    native = False

    def w_reach(self, l1, args):
        return (l1, 0)

    def py_kernel(self, y, i, lx, args, left_gap, right_gap):
        import numpy as np

        return float(np.median(y[i : i + lx + 1]))


class PythonKernelMeasure(MeasureDef):
    """Wrap an arbitrary user kernel ``f(y, i, lx, args) -> float``
    (the reference's UDF contract, reference:src/server.py:960-1016)
    as a registrable measure. ``reach`` sizes the halo: rows the
    kernel may touch beyond the window end / before the window start,
    as a function of ``(l1, args)``."""

    native = False

    def __init__(
        self,
        name: str,
        kernel: Callable,
        n_args: int = 0,
        reach: Callable[[int, tuple], tuple] = lambda l1, args: (l1, 0),
    ) -> None:
        self.name = name
        self._kernel = kernel
        self.n_args = n_args
        self._reach = reach

    def w_reach(self, l1, args):
        return self._reach(l1, args)

    def py_kernel(self, y, i, lx, args, left_gap, right_gap):
        return float(self._kernel(y, i, lx, args))


REGISTRY: dict[str, MeasureDef] = {
    m.name: m
    for m in (
        AvgAmp(),
        MaxAmpExcessRight(),
        MaxAmpExcessLeft(),
        SumAmp(),
        MinAmp(),
        RangeAmp(),
        MedianAmp(),
    )
}


def register_measure(measure: MeasureDef) -> None:
    """Extension hook for user-defined interval measures (the Spark
    analogue of adding a kernel to reference:src/server.py:960-1016 and
    its name to reference:src/client.py:160). Native measures plug
    into the W/S Column builders; ``PythonKernelMeasure`` instances
    run via the Arrow-batched strategy P."""
    REGISTRY[measure.name] = measure
