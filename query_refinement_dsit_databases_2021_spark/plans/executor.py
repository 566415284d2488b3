"""Query execution: the refinement dispatcher as declarative dataflow.

Lifecycle (SURVEY §3.4):

    parse -> one scan (domain bounds + segment stats) -> candidates
    (distributed UDF map) -> [refined: one dispatch aggregate] ->
    pass/fail split -> [limit | tighten | relax] -> union -> result

On small series the fixed cost of a query is its Spark jobs (about
0.1 s each on 4 cores, against milliseconds of data work), so the
engine keeps them few: an unrefined query runs one statistics job and
one result job; a refined one adds the AQE stage that caches its
candidates and one dispatch aggregate. A refined query re-run with new
bounds, targets or ``k`` reuses the held candidates and runs 3 jobs
(statistics, dispatch, result).

- **One scan before the build.** A single aggregate reads the series'
  ``time_id`` bounds (when a domain side is open) together with the
  segment statistics the guards need, as conditional aggregates under
  the segment predicate of the concrete sides (``_segment_stats``);
  ``plans/domains.fill_domains`` then fills the open sides.
- **One dispatch aggregate.** On the refined path the passing count and
  every measure's min/max (the relaxation normalizers) come from one
  ``agg`` over the persisted candidates.
- **No Exchange when the work is one partition anyway.** A source
  whose plan-time size estimate fits one scan split
  (``spark.sql.files.maxPartitionBytes``) is read by one task in any
  plan, so it is coalesced to one partition before the statistics
  aggregate, and a segment that also fits one halo block
  (``candidates._block_size``) before the candidate build: the global
  aggregates, the window and the sort-limit then need no Exchange and
  no AQE stage job. This is safe at scale because it never removes
  parallelism: past one split the source keeps its scan partitions,
  past one block the halo partitioning keeps its per-block Exchange,
  and sources without statistics (JDBC) never qualify.

- **One candidate store.** Candidates depend only on what
  ``Engine._cache_key`` hashes, the segment fingerprint of the
  statistics scan included. A query whose key equals the held frame's
  reuses it; else, with ``cache_dir``, it reads (first writing) that
  key's parquet entry; else it builds. The engine holds at most one
  frame, the last refined query's; ``Engine.close`` releases it.

The reference's BST/backtracking machinery (reference:src/bst_class.py,
reference:src/server.py:364-493) is execution strategy, not semantics —
replaced here by set-based evaluation: the per-row filter IS the
existential check, ``orderBy().limit()`` (TakeOrderedAndProject) IS the
threshold-maintaining top-k (SURVEY §4 O6-O9).

Refinement dispatch (reference:src/server.py:60-103, 413-429):

- not refined, cardinality k  -> any k passing rows (arbitrary-subset
  contract; reference branch order is random, bst_class.py:147)
- refined, n == k             -> passing rows as-is
- refined, n > k  (tighten)   -> top-k passing by RK desc
- refined, n < k  (relax)     -> passing ∪ (k−n best failing by RP asc,
                                 admission RP <= 1.0)

Determinism divergence (documented, SURVEY §7.5): refined paths break
score ties on (x, lx); the reference's tie order falls to Python sort
stability over a random exploration order.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from query_refinement_dsit_databases_2021_spark.errors import (
    DataVariabilityError,
    QueryError,
)
from query_refinement_dsit_databases_2021_spark.operators import scoring
from query_refinement_dsit_databases_2021_spark.operators.candidates import (
    _block_size,
    build_candidates,
    pick_strategy,
)
from query_refinement_dsit_databases_2021_spark.plans.domains import fill_domains
from query_refinement_dsit_databases_2021_spark.plans.parser import parse_query
from query_refinement_dsit_databases_2021_spark.plans.spec import QuerySpec

VARIABILITY_EPS = 5e-28  # reference:src/server.py:211


def _fits_one_split(table: DataFrame) -> bool:
    """True when the source's plan-time size estimate is at most one
    scan split (``spark.sql.files.maxPartitionBytes``). Sources without
    statistics (JDBC, Python data sources) report Spark's default size,
    which never qualifies."""
    jspark = table.sparkSession._jsparkSession
    size = table._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    return int(size) <= jspark.sessionState().conf().filesMaxPartitionBytes()


def _stats_aggs(cond: Column | None = None) -> list[Column]:
    """Segment statistics over the rows where ``cond`` holds (all rows
    when None): time_id range, row and value counts, value variance and
    an order-independent content fingerprint for the candidate-store key
    (32-bit hashes summed into a long cannot overflow below 2^32
    rows)."""

    def pick(c: Column) -> Column:
        return c if cond is None else F.when(cond, c)

    t, y = F.col("time_id"), F.col("y")
    return [
        F.min(pick(t)).alias("lo"),
        F.max(pick(t)).alias("hi"),
        F.count(pick(F.lit(1))).alias("n"),
        F.count(pick(y)).alias("n_y"),
        F.var_pop(pick(y)).alias("v"),
        F.sum(pick(F.hash("time_id", "y"))).alias("fp"),
    ]


def _segment_stats(series: DataFrame, spec: QuerySpec):
    """Resolve ``spec``'s open domain sides and read the statistics of
    its segment ``[x0, x1 + l1]`` in one scan of ``series``.

    The segment predicate is built from the concrete sides only; an
    open side, once filled, reaches the data edge (``x_lo`` -> t_min;
    ``x_hi`` or ``lx_hi`` open puts ``x1 + l1`` at or past t_max),
    except when a concrete ``x_hi`` ends before the data or a concrete
    ``lx_hi`` is negative. Then the filled upper bound cuts inside the
    rows the aggregate saw and the segment is aggregated again.
    Returns (resolved spec, statistics row)."""

    def segment_stats(spec: QuerySpec):
        (x0, x1), (_, l1) = spec.x_domain, spec.lx_domain
        return series.where(F.col("time_id").between(x0, x1 + l1)).agg(
            *_stats_aggs()
        ).first()

    if spec.resolved:
        return spec, segment_stats(spec)
    (x_lo, x_hi), (_, lx_hi) = spec.x_domain, spec.lx_domain
    t = F.col("time_id")
    cond = t.isNotNull()
    if x_lo is not None:
        cond &= t >= x_lo
    upper_open = x_hi is None or lx_hi is None
    if not upper_open:
        cond &= t <= x_hi + lx_hi
    row = series.agg(
        F.min(t).alias("t_min"), F.max(t).alias("t_max"), *_stats_aggs(cond)
    ).first()
    if row["t_min"] is None:
        raise QueryError("ERROR: series table is empty")
    t_max = int(row["t_max"])
    spec = fill_domains(spec, int(row["t_min"]), t_max)
    if upper_open and spec.x_domain[1] + spec.lx_domain[1] < t_max:
        row = segment_stats(spec)
    return spec, row


@dataclass
class ExecutionInfo:
    """Side-channel stats of the last execute() call (plan-time scalars
    only — never data rows)."""

    spec: QuerySpec | None = None
    strategy: str | None = None
    n_passing: int | None = None
    action: str | None = None  # 'all' | 'limit' | 'exact' | 'tighten' | 'relax'
    udf_size: int | None = None  # candidate-count scale variable, server.py:37
    candidates_from: str | None = None  # 'built' | 'held' | 'parquet'


class Engine:
    """Programmatic surface mirroring ``server.execute_query``
    (reference:src/server.py:14-103): ``Engine.execute(query) ->
    DataFrame[time_id, offset]``.

    Series tables are plain DataFrames registered by name (the analogue
    of Postgres tables; SURVEY §1.1): ``engine.register_series("emg_data",
    df)`` where ``df`` has a dense ``time_id`` column plus value columns.
    """

    def __init__(
        self,
        spark: SparkSession,
        partition_rows: int | None = None,
        cache_dir: str | None = None,
    ):
        self.spark = spark
        self.partition_rows = partition_rows
        # K2 cache: the reference pickles its UDF map when the build
        # exceeds 300 s (reference:src/server.py:249-286). With cache_dir
        # every build is written to parquet under its candidate-store
        # key and read back from there; the held frame serves the same
        # key in memory either way.
        self.cache_dir = cache_dir
        self._tables: dict[str, DataFrame] = {}
        self._held: DataFrame | None = None
        self._held_key: str | None = None
        self.last_info = ExecutionInfo()

    # -- candidate store -----------------------------------------------
    def _hold(self, candidates: DataFrame, key: str) -> DataFrame:
        """Persist ``candidates`` as the one frame this engine keeps
        cached, releasing the previous query's. A result returned
        earlier stays valid: its plan recomputes what was released."""
        self.close()
        self._held, self._held_key = candidates.persist(), key
        return self._held

    def close(self) -> None:
        """Unpersist the cached candidates of the last query, if any."""
        if self._held is not None:
            self._held.unpersist()
            self._held = self._held_key = None

    def _cache_key(self, spec: QuerySpec, fingerprint: int) -> str:
        measures = sorted(
            {(c.name, c.args) for c in spec.constraints}
        )  # bounds/targets don't change candidate values — only measures do
        # "v3": the key carries the segment's content fingerprint, so a
        # table re-registered under the same name (or a series that grew
        # under fixed domains) never reuses another frame's candidates;
        # "v2" keys held no data fingerprint and must not be reused
        raw = repr(
            (
                "v3",
                spec.table,
                spec.column,
                spec.x_domain,
                spec.lx_domain,
                measures,
                fingerprint,
            )
        )
        return hashlib.sha256(raw.encode()).hexdigest()[:24]

    # -- catalog (SURVEY §2.1 S6) --------------------------------------
    def register_series(self, name: str, df: DataFrame) -> None:
        if "time_id" not in df.columns:
            raise QueryError(f"series table {name!r} lacks a time_id column")
        self._tables[name] = df

    def register_parquet(self, name: str, path: str) -> None:
        self.register_series(name, self.spark.read.parquet(path))

    def register_jdbc(
        self, name: str, url: str, table: str, **options
    ) -> None:
        """Source parity with the reference's Postgres storage
        (reference:src/client.py:68-88): register a series table read
        through Spark's JDBC source (optionally range-partitioned on
        time_id — see sources.series.read_jdbc)."""
        from query_refinement_dsit_databases_2021_spark.sources import series

        self.register_series(name, series.read_jdbc(self.spark, url, table, **options))

    def list_tables(self) -> dict[str, list[str]]:
        """Catalog readout (information_schema analogue,
        reference:src/client.py:124-146)."""
        return {name: df.columns for name, df in self._tables.items()}

    # -- execution ------------------------------------------------------
    def execute(
        self,
        query: str | QuerySpec,
        include_scores: bool = False,
    ) -> DataFrame:
        spec = parse_query(query) if isinstance(query, str) else query
        if spec.table not in self._tables:
            raise QueryError(f"ERROR: unknown table {spec.table!r}")
        table = self._tables[spec.table]
        if spec.column not in table.columns:
            raise QueryError(f"ERROR: unknown column {spec.column!r}")

        # P1 projection + rename (reference:src/server.py:199)
        series = table.select(
            F.col("time_id").cast("long").alias("time_id"),
            F.col(spec.column).cast("double").alias("y"),
        )
        # A source of at most one scan split is read by one task anyway:
        # planning it on one partition lets the global aggregates, the
        # window and the sort-limit run without an Exchange, so no AQE
        # stage job either.
        one_split = _fits_one_split(table)
        spec, stats = _segment_stats(series.coalesce(1) if one_split else series, spec)
        x0, x1 = spec.x_domain
        l0, l1 = spec.lx_domain
        if stats["n"] == 0:
            raise QueryError("ERROR: no data in the requested time domain")
        if stats["n_y"] != stats["n"]:
            raise QueryError(
                f"ERROR: column {spec.column!r} has nulls in the requested "
                "time domain; measures need a value at every time_id"
            )
        t_start, t_end = int(stats["lo"]), int(stats["hi"])
        if stats["n"] != t_end - t_start + 1:
            raise QueryError(
                "ERROR: series segment has time_id gaps; window semantics "
                "require a dense axis (FIXTURES.md)"
            )
        # P5 variability guard (reference:src/server.py:209-214)
        if stats["v"] is not None and stats["v"] <= VARIABILITY_EPS:
            raise DataVariabilityError(
                "Chosen segment presents no variability. "
                "Please select a different segment."
            )

        # S5 range scan: the only bulk data read; Parquet pushdown
        # handles the rest (reference:src/server.py:190-206).
        segment = series.where(F.col("time_id").between(x0, x1 + l1))
        # a segment of one halo block is windowed in one task anyway
        if one_split and t_end - t_start + 1 <= _block_size(self.partition_rows, 0, 0):
            segment = segment.coalesce(1)

        strategy = pick_strategy(spec)
        key = self._cache_key(spec, stats["fp"])
        path = self.cache_dir and os.path.join(self.cache_dir, f"udfmap_{key}.parquet")
        # a held frame whose cache entry another engine released (plan-
        # equal frames share one entry) would recompute twice: rebuild it
        if key == self._held_key and self._held.storageLevel != StorageLevel.NONE:
            candidates, source = self._held, "held"
        elif path and os.path.exists(path):
            candidates, source = self.spark.read.parquet(path), "parquet"
        else:
            candidates, source = build_candidates(
                segment, spec, t_start, t_end, strategy, self.partition_rows
            ), "built"
            if path:
                candidates.write.mode("overwrite").parquet(path)
                candidates = self.spark.read.parquet(path)
        # O4: persist only when the dispatch re-reads the frame (refined:
        # one count + min/max aggregate, then the pass/fail split and
        # scoring). The unrefined path reads candidates exactly once.
        if spec.refined and source != "held":
            candidates = self._hold(candidates, key)

        info = ExecutionInfo(
            spec=spec,
            strategy=strategy,
            udf_size=(x1 - x0 + 1) * (l1 - l0 + 1),
            candidates_from=source,
        )
        try:
            result = self._dispatch(spec, candidates, info, include_scores)
        finally:
            self.last_info = info
        return result

    def _dispatch(
        self,
        spec: QuerySpec,
        candidates: DataFrame,
        info: ExecutionInfo,
        include_scores: bool,
    ) -> DataFrame:
        cons = spec.constraints
        all_pass = F.lit(True)
        for c in cons:
            all_pass = all_pass & scoring.passes(c)
        passing = candidates.where(all_pass)
        k = spec.cardinality

        score_cols: list[str] = []

        if not spec.refined:
            info.action = "all" if k is None else "limit"
            out = passing if k is None else passing.limit(k)
        else:
            if k is None:
                raise QueryError("ERROR: REFINED requires a cardinality")
            # one aggregate: the passing count and, for relaxation, the
            # global per-measure min/max over ALL candidates -- the RD
            # normalizers (reference:src/server.py:306-317, 345-349)
            measures = list(dict.fromkeys(c.column for c in cons))
            row = candidates.agg(
                F.count_if(all_pass).alias("n"),
                *[
                    agg(m).alias(f"{name}_{m}")
                    for m in measures
                    for name, agg in (("min", F.min), ("max", F.max))
                ],
            ).first()
            n = row["n"]
            info.n_passing = n
            if n == k:
                info.action = "exact"
                out = passing
            elif n > k:
                # C3 tightening: top-k by RK desc (reference:src/server.py:413-429)
                info.action = "tighten"
                # Order on the score rounded to 9 decimals so the (x, lx)
                # tie-break — not last-bit float summation noise — decides
                # near-equal candidates; keeps results stable across
                # physical strategies, partitionings, and external oracles.
                out = (
                    passing.withColumn("rk", scoring.rank(cons))
                    .orderBy(F.round(F.col("rk"), 9).desc(), "x", "lx")
                    .limit(k)
                )
                score_cols = ["rk"]
            else:
                # C2 relaxation: best k-n failing by RP asc, RP <= 1
                # (reference:src/server.py:691-772)
                info.action = "relax"
                bounds = {
                    m: (float(row[f"min_{m}"]), float(row[f"max_{m}"]))
                    for m in measures
                }
                failing = candidates.where(~all_pass)
                relaxed = (
                    failing.withColumn(
                        "rp", scoring.relaxation_penalty(cons, bounds)
                    )
                    .where(F.col("rp") <= F.lit(scoring.MRP_INIT))
                    .orderBy(F.round(F.col("rp"), 9).asc(), "x", "lx")
                    .limit(k - n)
                )
                passing = passing.withColumn("rp", F.lit(0.0))
                out = passing.unionByName(relaxed)  # U1, disjoint by construction
                score_cols = ["rp"]

        keep = ["x", "lx"] + (score_cols if include_scores else [])
        out = out.select(*keep)
        renames = {"x": "time_id", "lx": "offset"}
        for old, new in renames.items():
            out = out.withColumnRenamed(old, new)
        return out
