"""Domain resolution: fold ``None`` bounds to data MIN/MAX before planning.

Semantics of reference:src/server.py:124-183 (``fixDecisionDomains``):

- ``time_id`` domain ``None`` sides resolve to ``MIN(time_id)`` /
  ``MAX(time_id)`` of the series table.
- ``offset`` is a non-table variable bound to ``time_id``: default
  lo = 1, default hi = ``max(time_id) - min(time_id) + 1``
  (reference:src/server.py:172-181).

:func:`fill_domains` is that rule, pure, on given data bounds; it is
the only place open sides are filled. The engine reads the bounds in
the same scan as its segment statistics (``plans/executor.py``);
:func:`resolve_domains` is the standalone form, one tiny MIN/MAX
aggregate on the driver followed by the same rule (SURVEY §4 O3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from query_refinement_dsit_databases_2021_spark.errors import QueryError
from query_refinement_dsit_databases_2021_spark.plans.spec import QuerySpec


def fill_domains(spec: QuerySpec, t_min: int, t_max: int) -> QuerySpec:
    """Return ``spec`` with every ``None`` domain side filled from the
    series' ``time_id`` bounds ``[t_min, t_max]``."""
    x_lo, x_hi = spec.x_domain
    lx_lo, lx_hi = spec.lx_domain
    return spec.with_domains(
        (t_min if x_lo is None else x_lo, t_max if x_hi is None else x_hi),
        (
            1 if lx_lo is None else lx_lo,  # reference:src/server.py:177
            # reference:src/server.py:178-181
            t_max - t_min + 1 if lx_hi is None else lx_hi,
        ),
    )


def series_bounds(series: DataFrame) -> tuple[int, int]:
    """MIN/MAX probe (SURVEY §2.1 S7; reference:src/server.py:152-158)."""
    row = series.agg(
        F.min("time_id").alias("lo"), F.max("time_id").alias("hi")
    ).first()
    if row is None or row["lo"] is None:
        raise QueryError("ERROR: series table is empty")
    return int(row["lo"]), int(row["hi"])


def resolve_domains(series: DataFrame, spec: QuerySpec) -> QuerySpec:
    """Return a spec with all four domain bounds concrete."""
    if spec.resolved:
        return spec
    return fill_domains(spec, *series_bounds(series))
