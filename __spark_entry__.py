"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship CP refined query at sf0.001;
``queries()``/``oracle_sql()`` expose every implemented workload from
SURVEY.md §2 for the sf0.01 DuckDB differential check, in
``workloads.gate_order`` order over the CORRECTNESS_r*.json ledger
beside this file: never-checked names first, then the stalest.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _HERE)

from query_refinement_dsit_databases_2021_spark.workloads import (  # noqa: E402
    gate_order,
    workloads,
)

_REGISTRY = workloads()
_WORKLOADS = {n: _REGISTRY[n] for n in gate_order(list(_REGISTRY), _HERE)}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the reference-shaped refined CP query (tighten path)
    on /root/testdata/sf0.001; driver checks rows>0."""
    return _WORKLOADS["cp_refined_tighten"].fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator workload (SURVEY.md §2)."""
    return {name: w.fn for name, w in _WORKLOADS.items()}


def oracle_sql() -> dict[str, str]:
    """Equivalent DuckDB SQL per workload (omitted for workloads that
    are not SQL-expressible -> rows-only check)."""
    return {name: w.oracle for name, w in _WORKLOADS.items() if w.oracle is not None}
