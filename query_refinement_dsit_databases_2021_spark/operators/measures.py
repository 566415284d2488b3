"""Interval-aggregate measure ("constraint UDF") registry.

The reference's extension point is a name-registered family of
per-window scalar functions ``f(series, x, lx, args) -> float``
(reference:src/client.py:160, reference:src/server.py:960-1016). Here
a native measure is a *builder of a Column expression* over what
strategy W (``operators/candidates.py``) computes per candidate
``(x, lx)``: running ``sum``/``max``/``min`` of the window
``y[x .. x+lx]`` and max frames of the neighbourhoods
(:class:`WindowCtx`). Every measure also has a NumPy kernel for
strategy P, the ``applyInPandas`` escape hatch.

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
# measure definitions
# ---------------------------------------------------------------------------

@dataclass
class WindowCtx:
    """What a measure's strategy-W expression reads for one candidate
    ``(x, lx)``.

    ``win_sum``, ``win_max`` and ``win_min`` are running aggregates of
    the window ``y[x .. x+lx]``; :meth:`right_max` and :meth:`left_max`
    are the max frames of the neighbourhoods. Each accessor records
    what it is asked for, so the builder computes only those columns."""

    lx: Column
    aggs: set[str] = field(default_factory=set)
    right_ws: set[int] = field(default_factory=set)
    left_ws: set[int] = field(default_factory=set)

    def _win(self, fn: str) -> Column:
        self.aggs.add(fn)
        return F.col(f"win_{fn}")

    @property
    def win_sum(self) -> Column:
        """``sum(y[x .. x+lx])``, added left to right from 0.0."""
        return self._win("sum")

    @property
    def win_max(self) -> Column:
        return self._win("max")

    @property
    def win_min(self) -> Column:
        return self._win("min")

    def right_max(self, w: int) -> Column:
        """``max(y[x+lx .. min(x+lx+w, t_end)])``: the neighbourhood
        shares the window's last point and clamps at the segment end."""
        self.right_ws.add(w)
        return F.col(f"rmax_{w}")

    def left_max(self, w: int) -> Column:
        """``max(y[max(x-w, t_start) .. x])``."""
        self.left_ws.add(w)
        return F.col(f"lmax_{w}")


class MeasureDef:
    """Base class; subclasses implement the physical strategies.

    ``native`` measures implement W as a Column builder over
    :class:`WindowCtx` — the JVM-side fast path. Every measure additionally
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
        return ctx.win_sum / (ctx.lx + F.lit(1)).cast("double")

    def w_reach(self, l1, args):
        return (l1, 0)

    def py_kernel(self, y, i, lx, args, left_gap, right_gap):
        return float(y[i : i + lx + 1].mean())


class MaxAmpExcessRight(MeasureDef):
    name = "max_amp_excess_right"
    n_args = 1

    def w_expr(self, ctx, args):
        return ctx.win_max - ctx.right_max(args[0])

    def w_reach(self, l1, args):
        return (l1 + args[0], 0)

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
        return ctx.win_max - ctx.left_max(args[0])

    def w_reach(self, l1, args):
        return (l1, args[0])

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
        return ctx.win_sum

    def w_reach(self, l1, args):
        return (l1, 0)

    def py_kernel(self, y, i, lx, args, left_gap, right_gap):
        return float(y[i : i + lx + 1].sum())


class MinAmp(MeasureDef):
    """Minimum amplitude over the window: min(y[x..x+lx])."""

    name = "min_amp"
    n_args = 0

    def w_expr(self, ctx, args):
        return ctx.win_min

    def w_reach(self, l1, args):
        return (l1, 0)

    def py_kernel(self, y, i, lx, args, left_gap, right_gap):
        return float(y[i : i + lx + 1].min())


class RangeAmp(MeasureDef):
    """Amplitude spread over the window: max(y) − min(y) on
    [x, x+lx]."""

    name = "range_amp"
    n_args = 0

    def w_expr(self, ctx, args):
        return ctx.win_max - ctx.win_min

    def w_reach(self, l1, args):
        return (l1, 0)

    def py_kernel(self, y, i, lx, args, left_gap, right_gap):
        win = y[i : i + lx + 1]
        return float(win.max() - win.min())


# ---------------------------------------------------------------------------
# non-native measures: semantics the built-in window aggregates cannot
# express — they run on strategy P (applyInPandas), which the
# planner auto-selects when such a measure appears in a query
# ---------------------------------------------------------------------------

class MedianAmp(MeasureDef):
    """Exact median of ``y`` over [x, x+lx]. Spark's ``median``/
    ``percentile`` aggregates reject window frames
    (INVALID_WINDOW_SPEC_FOR_AGGREGATION_FUNC) and an exact median is
    not a running aggregate, so this is the
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
    into the strategy-W Column builder; ``PythonKernelMeasure`` instances
    run via the Arrow-batched strategy P."""
    REGISTRY[measure.name] = measure
