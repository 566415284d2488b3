"""Property-based tests (hypothesis) — SURVEY §5.2 item 3.

Properties pinned here:

(a) tightened result set ⊆ unrefined full passing set;
(b) |final| = min(k, |satisfiable ∪ admissible|) for refined queries;
(c) relaxed additions all fail ≥1 original constraint and have RP ≤ 1;
(d) RD monotone (non-decreasing) in the violation distance outside the
    bounds and 0 inside; RK monotone in t (increasing for MAX targets,
    decreasing for MIN) — reference formulas at src/server.py:614-633
    and :779-792;
(e) ``None`` domain sides resolve exactly to the data MIN/MAX defaults
    (reference:src/server.py:124-183).

The heavyweight engine property runs a full differential against the
NumPy brute-force oracle (tests/oracle_np.py) on randomized series,
domains, and constraints — this subsumes (a)-(c) pointwise, and the
explicit sub-asserts below make each named property's failure legible.
Spark runs cost seconds, so example counts are deliberately small;
the pure-expression properties (d) run many more examples cheaply.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, assume, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from query_refinement_dsit_databases_2021_spark.operators import scoring
from query_refinement_dsit_databases_2021_spark.plans.executor import Engine
from query_refinement_dsit_databases_2021_spark.plans.spec import (
    ConstraintSpec,
    QuerySpec,
)

from tests.oracle_np import brute_candidates, brute_execute

SERIES_N = 36

# Integer-valued series keep oracle/engine float math exactly aligned;
# bounds use .25 offsets so they never coincide with global measure
# min/max (which would make RD's normalizer zero on both sides).
series_values = st.lists(
    st.integers(min_value=-8, max_value=8), min_size=SERIES_N, max_size=SERIES_N
)


@st.composite
def cp_specs(draw):
    x0 = draw(st.integers(min_value=1, max_value=10))
    x1 = x0 + draw(st.integers(min_value=2, max_value=8))
    l0 = draw(st.integers(min_value=1, max_value=3))
    l1 = l0 + draw(st.integers(min_value=0, max_value=3))
    kinds = draw(
        st.lists(
            st.sampled_from(["avg_amp", "max_amp_excess_left", "max_amp_excess_right"]),
            min_size=1,
            max_size=2,
            unique=True,
        )
    )
    cons = []
    for kind in kinds:
        lo = draw(st.integers(min_value=-6, max_value=4)) + 0.25
        hi = lo + draw(st.integers(min_value=0, max_value=6)) + 0.5
        target = draw(st.sampled_from(["maximization", "minimization"]))
        args = (draw(st.integers(min_value=1, max_value=4)),) if kind != "avg_amp" else ()
        cons.append(ConstraintSpec(kind, args, lo, hi, target))
    k = draw(st.integers(min_value=1, max_value=12))
    return QuerySpec(
        table="prop_series",
        column="y",
        x_domain=(x0, x1),
        lx_domain=(l0, l1),
        constraints=tuple(cons),
        cardinality=k,
        refined=True,
    )


def _mk_series(spark, ys):
    rows = [(i + 1, float(v)) for i, v in enumerate(ys)]
    return spark.createDataFrame(rows, "time_id long, y double"), rows


def _rp(series_rows, spec, key):
    """Oracle RP for one failing candidate (reference:src/server.py:636-664)."""
    cands = brute_candidates(series_rows, spec)
    vals = cands[key]
    mins = {c.column: min(v[c.column] for v in cands.values()) for c in spec.constraints}
    maxs = {c.column: max(v[c.column] for v in cands.values()) for c in spec.constraints}
    rd, viol = 0.0, 0
    for c in spec.constraints:
        t = vals[c.column]
        if t > c.hi:
            rd = max(rd, (t - c.hi) / (maxs[c.column] - c.hi))
            viol += 1
        elif t < c.lo:
            rd = max(rd, (c.lo - t) / (c.lo - mins[c.column]))
            viol += 1
    return 0.5 * rd + 0.5 * viol / len(spec.constraints)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(ys=series_values, spec=cp_specs())
def test_refined_engine_matches_brute_oracle(spark, ys, spec):
    series, rows = _mk_series(spark, ys)
    x1, l1 = spec.x_domain[1], spec.lx_domain[1]
    # The reference fetches ONLY [x_lo, x_hi + lx_hi] (src/server.py:200-203)
    # and its excess UDFs clamp neighborhoods at the FETCHED data's edges —
    # so the oracle must see the segment, not the whole series.
    rows = [(t, y) for t, y in rows if spec.x_domain[0] <= t <= x1 + l1]
    seg = [y for _, y in rows]
    assume(len(set(seg)) > 1)  # variability guard would reject (by design)

    cands = brute_candidates(rows, spec)
    # degenerate normalizers (bound == global measure extremum) divide
    # by zero in BOTH systems; excluded from the property domain
    for c in spec.constraints:
        vals = [v[c.column] for v in cands.values()]
        assume(abs(c.hi - max(vals)) > 1e-9 and abs(c.lo - min(vals)) > 1e-9)

    expected, action = brute_execute(rows, spec)
    engine = Engine(spark)
    engine.register_series("prop_series", series)
    got = sorted((r.time_id, r.offset) for r in engine.execute(spec).collect())

    assert got == expected, (action, spec)
    assert engine.last_info.action == action

    passing = {
        key
        for key, vals in cands.items()
        if all(c.lo <= vals[c.column] <= c.hi for c in spec.constraints)
    }
    k = spec.cardinality
    if action == "tighten":
        # (a) tightened ⊆ unrefined passing set, exactly k of them
        assert set(got) <= passing and len(got) == k
    elif action == "relax":
        # (c) additions fail ≥1 original constraint with RP ≤ 1
        additions = set(got) - passing
        for key in additions:
            assert _rp(rows, spec, key) <= 1.0 + 1e-12
            assert any(
                not (c.lo <= cands[key][c.column] <= c.hi) for c in spec.constraints
            )
        # (b) |final| = min(k, |satisfiable ∪ admissible|)
        admissible = {
            key for key in cands if key not in passing and _rp(rows, spec, key) <= 1.0
        }
        assert len(got) == min(k, len(passing | admissible))


@settings(max_examples=30, deadline=None)
@given(
    ts=st.lists(
        st.floats(min_value=-50, max_value=50, allow_nan=False), min_size=2, max_size=24
    ),
    bounds=st.tuples(
        st.floats(min_value=-20, max_value=10, allow_nan=False),
        st.floats(min_value=0.5, max_value=20, allow_nan=False),
    ),
)
def test_rd_rk_monotonicity(spark, ts, bounds):
    a, width = bounds
    b = a + width
    con = ConstraintSpec("avg_amp", (), a, b, "maximization")
    min_fc, max_fc = min(ts) - 1.0, max(ts) + 1.0  # strict: nonzero normalizers
    df = spark.createDataFrame([(float(t),) for t in ts], f"{con.column} double")
    rd_rows = df.select(
        df[con.column].alias("t"),
        scoring.relaxation_distance(con, min_fc, max_fc).alias("rd"),
        scoring.rank((con,)).alias("rk"),
    ).collect()
    by_t = sorted((r.t, r.rd, r.rk) for r in rd_rows)
    for (t1, rd1, rk1), (t2, rd2, rk2) in zip(by_t, by_t[1:]):
        # (d) RD: non-increasing below the interval, 0 inside, non-decreasing above
        if t2 <= a:
            assert rd1 >= rd2 - 1e-12
        if t1 >= b:
            assert rd1 <= rd2 + 1e-12
        if a <= t1 <= b:
            assert rd1 == 0.0
        # (d) RK for MAX target: increasing in t (closer to b ranks higher)
        assert rk1 <= rk2 + 1e-12
    # MIN target: the reference's rk_c = (a−t)/(b−a) goes NEGATIVE for
    # t > a (reference:src/server.py:790-792), so RK = 1 − Σ w·rk_c is
    # increasing in t for BOTH targets — a faithful quirk; inside [a, b]
    # a MIN-target RK is maximal at t = a (RK(a) = 1 ≤ RK(t) ≤ RK(b) = 2
    # means top-k by RK desc prefers LARGER t even under MIN). We pin the
    # formula, not the intuition.
    con_min = ConstraintSpec("avg_amp", (), a, b, "minimization")
    rk_min = sorted(
        (r.t, r.rk)
        for r in df.select(
            df[con.column].alias("t"), scoring.rank((con_min,)).alias("rk")
        ).collect()
    )
    for (t1, rk1), (t2, rk2) in zip(rk_min, rk_min[1:]):
        assert rk1 <= rk2 + 1e-12
        expected = 1.0 - (a - t1) / (b - a)
        assert abs(rk1 - expected) < 1e-9


@settings(max_examples=6, deadline=None)
@given(ys=series_values, lo_hi=st.tuples(st.integers(1, 6), st.integers(12, 28)))
def test_none_domains_resolve_to_data_min_max(spark, ys, lo_hi):
    assume(len(set(ys)) > 1)
    series, rows = _mk_series(spark, ys)
    con = ConstraintSpec("avg_amp", (), -0.75, 3.25, "maximization")
    implicit = QuerySpec(
        "prop_series", "y", (None, lo_hi[1]), (None, 4), (con,), None, False
    )
    explicit = QuerySpec(
        "prop_series", "y", (1, lo_hi[1]), (1, 4), (con,), None, False
    )
    engine = Engine(spark)
    engine.register_series("prop_series", series)
    got_implicit = sorted(
        (r.time_id, r.offset) for r in engine.execute(implicit).collect()
    )
    got_explicit = sorted(
        (r.time_id, r.offset) for r in engine.execute(explicit).collect()
    )
    # (e) None sides ≡ data-driven defaults (t_min=1; offset lo=1)
    assert got_implicit == got_explicit
    assert engine.last_info.spec.x_domain[0] == 1


WINDOW_SERIES_N = 80
NATIVE_MEASURES = [
    "avg_amp",
    "sum_amp",
    "min_amp",
    "range_amp",
    "max_amp_excess_left",
    "max_amp_excess_right",
]


@st.composite
def window_cases(draw):
    """A strategy-W build: spec over every native measure kind, the
    segment the engine would fetch for it, and a block size between the
    halo minimum and a little over it (so blocks really split)."""
    from query_refinement_dsit_databases_2021_spark.operators.candidates import (
        _block_size,
    )
    from query_refinement_dsit_databases_2021_spark.operators.measures import (
        REGISTRY,
    )

    n = WINDOW_SERIES_N
    # x0 is the segment's first row (as the engine fetches it) and
    # x1 + l1 may run past the data: both edges clamp
    x0 = draw(st.integers(min_value=1, max_value=n - 10))
    x1 = draw(st.integers(min_value=x0, max_value=n))
    l0 = draw(st.integers(min_value=0, max_value=4))
    l1 = l0 + draw(st.integers(min_value=0, max_value=8))
    kinds = draw(
        st.lists(st.sampled_from(NATIVE_MEASURES), min_size=1, max_size=6, unique=True)
    )
    cons = tuple(
        ConstraintSpec(
            kind,
            (draw(st.integers(min_value=1, max_value=6)),) if "excess" in kind else (),
            None,
            None,
        )
        for kind in kinds
    )
    spec = QuerySpec("prop_series", "y", (x0, x1), (l0, l1), cons)
    reach_fwd = max(REGISTRY[c.name].w_reach(l1, c.args)[0] for c in cons)
    reach_bwd = max(REGISTRY[c.name].w_reach(l1, c.args)[1] for c in cons)
    halo_min = _block_size(1, reach_fwd, reach_bwd)
    block = draw(st.integers(min_value=halo_min, max_value=halo_min + 16))
    return spec, (x0, min(n, x1 + l1)), block


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    ys=st.lists(
        st.integers(min_value=-20, max_value=20),
        min_size=WINDOW_SERIES_N,
        max_size=WINDOW_SERIES_N,
    ),
    case=window_cases(),
)
def test_window_candidates_match_brute_oracle(spark, ys, case):
    from query_refinement_dsit_databases_2021_spark.operators.candidates import (
        build_candidates,
    )

    spec, (t_start, t_end), block = case
    series, rows = _mk_series(spark, ys)
    segment = series.where(F.col("time_id").between(t_start, t_end))
    got = {
        (r["x"], r["lx"]): r.asDict()
        for r in build_candidates(
            segment, spec, t_start, t_end, "window", partition_rows=block
        ).collect()
    }
    want = brute_candidates(
        [(t, y) for t, y in rows if t_start <= t <= t_end], spec
    )
    assert set(got) == set(want)
    for key, vals in want.items():
        for col, val in vals.items():
            assert got[key][col] == pytest.approx(val, abs=1e-9), (key, col)


def _level_commit(levels, k_new):
    """Test-local model of the reference's multi-level relaxation commit
    (reference:src/server.py:706-719): each "search level" is replayed
    in full, its best results are committed via
    ``sortPenalties(nr, k_new - len(results))``, and only the REMAINING
    slots are contested by the next level. ``levels`` is a list of
    lists of ``(candidate, rp)``."""
    results = []
    for nr in levels:
        if k_new <= len(results):
            break
        results = results + sorted(nr, key=lambda r: r[1])[: k_new - len(results)]
    return results


def test_multilevel_level_commit_divergence(spark):
    """SURVEY §2.9 note, made concrete: the reference's level-by-level
    relaxation commit (reference:src/server.py:708-719) and this
    engine's declarative global top-(k−n) by RP DISAGREE whenever a
    later-level candidate out-scores a committed earlier-level one.

    Two facts frame the divergence:

    1. The multi-level path is unreachable in the reference as written:
       a failpoint's replay relaxes every failed constraint to that
       subtree's own min/max (src/server.py:752-755, 593-596), which by
       construction admits every leaf of the subtree, so a replay can
       never record ``new_failures`` — the reference's own comments mark
       the path "UNTESTED CODE" (src/server.py:697-699, 714). For every
       query the reference can actually run, relaxation is single-level
       and the level commit coincides with the global top-(k−n).
    2. Under the PAPER's semantics, were a second level reachable, the
       commit order would matter. This test constructs that scenario
       with real engine-scored candidates and pins the divergent rows.

    Series/spec below (avg_amp in [5, 9], k = 2, zero passing) yields
    admissible failing candidates led by, in global RP order:
        A = (time_id 8,  offset 2)  rp ≈ 0.545455
        C = (time_id 17, offset 3)  rp ≈ 0.568182
        B = (time_id 15, offset 2)  rp ≈ 0.590909
    Hypothetical levels: level 1 = {A, B}, level 2 = {C}.
        reference level-commit → {A, B}  (B committed before C competes)
        declarative global top-2 → {A, C}
    Divergent row set: reference keeps B=(15, 2); the engine returns
    C=(17, 3) instead. The engine's answer is pinned below.
    """
    ys = [0, 3, 1, 4, 2, 6, 1, 5, 2, 7, 3, 1, 6, 2, 4, 1, 8, 2, 3, 5, 1, 4, 6, 2, 3]
    series = spark.createDataFrame(
        [(i + 1, float(v)) for i, v in enumerate(ys)], ["time_id", "y"]
    )
    engine = Engine(spark)
    engine.register_series("lvl_series", series)
    con = ConstraintSpec("avg_amp", (), 5.0, 9.0)

    # probe: every admissible failing candidate with its RP
    probe = QuerySpec(
        "lvl_series", "y", (1, 18), (2, 4), (con,), cardinality=500, refined=True
    )
    rows = engine.execute(probe, include_scores=True).collect()
    assert engine.last_info.n_passing == 0
    scored = sorted((round(r.rp, 9), r.time_id, r.offset) for r in rows if r.rp > 0)
    (rp_a, *a), (rp_c, *c), (rp_b, *b) = scored[0], scored[1], scored[2]
    a, b, c = tuple(a), tuple(b), tuple(c)
    assert a == (8, 2) and c == (17, 3) and b == (15, 2)
    assert rp_a < rp_c < rp_b  # strict: the divergence is not a tie artifact

    # hypothetical two-level layout: B discovered at level 1, C at level 2
    levels = [[(a, rp_a), (b, rp_b)], [(c, rp_c)]]
    committed = {cand for cand, _ in _level_commit(levels, 2)}
    global_top2 = {cand for _, *cand2 in scored[:2] for cand in [tuple(cand2)]}
    assert committed == {a, b}
    assert global_top2 == {a, c}
    assert committed != global_top2  # the named divergence: B vs C

    # the ENGINE implements the declarative contract: global top-(k−n)
    final = QuerySpec(
        "lvl_series", "y", (1, 18), (2, 4), (con,), cardinality=2, refined=True
    )
    got = sorted((r.time_id, r.offset) for r in engine.execute(final).collect())
    assert engine.last_info.action == "relax"
    assert got == sorted([a, c])


# ---------------------------------------------------------------------------
# Layout / pipeline operator properties (round-2 additions)
# ---------------------------------------------------------------------------


@settings(max_examples=200, deadline=None)
@given(
    x=st.integers(min_value=0, max_value=(1 << 16) - 1),
    y=st.integers(min_value=0, max_value=(1 << 16) - 1),
)
def test_zorder_key_is_monotone_in_quadrant_refinement(x, y):
    """Pure-expression property of the Morton interleave (numpy-free
    reference model): the top 2 bits of the z-key identify the (x, y)
    half-planes — i.e. the key's bit prefix IS the quadtree path, which
    is exactly why range-partitioning it yields rectangle-ish files."""

    def morton(a, b, bits=16):
        z = 0
        for i in range(bits):
            z |= ((a >> i) & 1) << (2 * i)
            z |= ((b >> i) & 1) << (2 * i + 1)
        return z

    z = morton(x, y)
    assert (z >> 31) & 1 == (y >> 15) & 1
    assert (z >> 30) & 1 == (x >> 15) & 1
    # interleave is a bijection: unpack returns the inputs
    ux = sum((((z >> (2 * i)) & 1) << i) for i in range(16))
    uy = sum((((z >> (2 * i + 1)) & 1) << i) for i in range(16))
    assert (ux, uy) == (x, y)


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    texts=st.lists(
        st.sampled_from(["a b c", "d e f", "g h i", "j k l"]),
        min_size=4,
        max_size=12,
    ),
    split_at=st.integers(min_value=1, max_value=3),
)
def test_incremental_dedup_union_property(spark, texts, split_at):
    """incremental_dedup(base, incr) keep-set == texts of the full
    dedup survivors that live in the increment and are NOT in base —
    i.e. incremental ingest never re-admits a known text and never
    misses a new one."""
    from query_refinement_dsit_databases_2021_spark.operators import dedup

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    base = df.where(F.col("doc_id") < split_at)
    incr = df.where(F.col("doc_id") >= split_at)
    kept = {r["keep_id"] for r in dedup.incremental_dedup(base, incr).collect()}
    base_texts = {t for i, t in rows if i < split_at}
    want = set()
    seen = set()
    for i, t in rows:
        if i < split_at:
            continue
        if t in base_texts or t in seen:
            continue
        seen.add(t)
        want.add(i)
    assert kept == want


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    vals=st.lists(
        st.floats(min_value=-50, max_value=50, allow_nan=False, width=32),
        min_size=1,
        max_size=10,
    )
)
def test_time_weighted_avg_of_constant_is_the_constant(spark, vals):
    """TWA invariants: (1) a constant series has TWA == the constant
    (quantized to mills) for any sampling pattern; (2) bucket weights
    always total exactly the covered span to the bucket end."""
    import math

    from query_refinement_dsit_databases_2021_spark.operators.timeseries import (
        time_weighted_avg,
    )

    c = vals[0]
    rows = [
        (i, f"2021-01-01 00:{i * 5:02d}:00", "k", c) for i in range(len(vals))
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, event_type string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    out = time_weighted_avg(df).collect()
    assert len(out) == 1
    r = out[0]
    day_us = 24 * 3600 * 1_000_000
    first_offset_us = 0
    assert r["w_us"] == day_us - first_offset_us
    assert r["twa"] == pytest.approx(math.floor(c * 1000 + 0.5) / 1000, abs=1e-9)


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),   # user
            st.integers(min_value=0, max_value=50),  # minute
            st.sampled_from([1.0, 2.0, 3.0]),        # value
        ),
        min_size=1,
        max_size=25,
    )
)
def test_scd2_matches_python_reference(spark, events):
    """scd2_history vs a straight-line python model: sort per key by
    (ts, event_id), collapse equal-value runs, link intervals."""
    from datetime import datetime

    from query_refinement_dsit_databases_2021_spark.operators.cdc import scd2_history

    rows = [
        (i, datetime(2024, 1, 1, 0, m), u, v) for i, (u, m, v) in enumerate(events)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, value double"
    )
    key = lambda t: (t[0], t[1], t[2] or datetime.max, t[3], t[4])  # noqa: E731
    got = sorted(
        (
            (r["user_id"], r["valid_from"], r["valid_to"], r["value"], r["n_events"])
            for r in scd2_history(df).collect()
        ),
        key=key,
    )
    want = []
    by_user = {}
    for i, ts, u, v in sorted(rows, key=lambda r: (r[2], r[1], r[0])):
        by_user.setdefault(u, []).append((ts, v))
    for u, seq in by_user.items():
        runs = []
        for ts, v in seq:
            if runs and runs[-1][2] == v:
                runs[-1][3] += 1
            else:
                runs.append([ts, None, v, 1])
        for a, b in zip(runs, runs[1:]):
            a[1] = b[0]
        want += [(u, r[0], r[1], r[2], r[3]) for r in runs]
    assert got == sorted(want, key=key)


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    vals=st.lists(
        st.floats(min_value=0.0, max_value=200.0, allow_nan=False, width=16),
        min_size=8,
        max_size=40,
    )
)
def test_anomaly_mad_matches_numpy_oracle(spark, vals):
    # brute NumPy mirror of the integer-cents median/MAD contract:
    # same rows flagged, same 4-dp robust z
    import numpy as np
    from datetime import datetime, timedelta

    from query_refinement_dsit_databases_2021_spark.operators.timeseries import (
        anomaly_mad,
    )

    t0 = datetime(2024, 3, 1)
    rows = [
        (i, t0 + timedelta(minutes=i), 1, "a", float(v))
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    got = {
        r["event_id"]: r["rz"] for r in anomaly_mad(df, threshold=2.0).collect()
    }
    c = np.floor(np.array(vals) * 100 + 0.5)
    med = np.median(c)
    mad = np.median(np.abs(c - med))
    want = {}
    if mad > 0:
        thr = round(2.0 * 14826)
        for i, ci in enumerate(c):
            if abs(ci - med) * 10000 > thr * mad:
                want[i] = np.floor((ci - med) / (1.4826 * mad) * 1e4 + 0.5) / 1e4
    assert got == want


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    vals=st.lists(
        st.floats(min_value=0.0, max_value=100.0, allow_nan=False, width=16),
        min_size=10,
        max_size=60,
    ),
    w=st.integers(2, 6),
)
def test_level_shift_matches_numpy_oracle(spark, vals, w):
    import numpy as np
    from datetime import datetime, timedelta

    from query_refinement_dsit_databases_2021_spark.operators.timeseries import (
        level_shift,
    )

    t0 = datetime(2024, 3, 1)
    rows = [
        (i, t0 + timedelta(minutes=i), 1, "a", float(v))
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    delta = 10.0
    got = {r["event_id"]: r["diff_c"] for r in level_shift(df, w=w, delta=delta).collect()}
    c = np.floor(np.array(vals) * 100 + 0.5).astype(np.int64)
    want = {}
    for i in range(len(c)):
        if i - w < 0 or i + w > len(c):
            continue
        pre = int(c[i - w:i].sum())
        post = int(c[i:i + w].sum())
        if abs(post - pre) >= round(delta * 100) * w:
            want[i] = post - pre
    assert got == want


@given(
    st.lists(
        st.text(alphabet="abceghjlnoqrstuwy", min_size=1, max_size=9),
        min_size=1,
        max_size=12,
    )
)
@settings(max_examples=200, deadline=None)
def test_viterbi_segmentation_is_optimal(words):
    """The unigram DP must find the true optimum of (cost, n_pieces):
    compare against brute-force enumeration of EVERY segmentation (the
    same certificate the DuckDB oracle provides, here over arbitrary
    hypothesis-generated words instead of the corpus vocabulary).
    Pure Python — no Spark session, the kernel is the unit."""
    from query_refinement_dsit_databases_2021_spark.operators.textops import (
        UNIGRAM_CHAR_COST,
        UNIGRAM_PIECES,
        _viterbi_state,
    )

    def brute(term):
        n = len(term)
        best = None
        # enumerate compositions via bitmask over the n-1 cut points
        for cuts in range(1 << max(n - 1, 0)):
            pieces, start, ok = [], 0, True
            for i in range(n - 1):
                if cuts >> i & 1:
                    pieces.append(term[start : i + 1])
                    start = i + 1
            pieces.append(term[start:])
            cost = 0
            for p in pieces:
                if len(p) == 1:
                    cost += min(
                        UNIGRAM_CHAR_COST, UNIGRAM_PIECES.get(p, 10**9)
                    )
                elif p in UNIGRAM_PIECES:
                    cost += UNIGRAM_PIECES[p]
                else:
                    ok = False
                    break
            if ok:
                cand = cost * 1000 + len(pieces)
                best = cand if best is None or cand < best else best
        return best

    for w in words:
        assume(len(w) <= 9)
        assert _viterbi_state(w, dict(UNIGRAM_PIECES)) == brute(w), w


def test_copurchase_matches_bruteforce_on_random_baskets(spark):
    """The in-row pair-enumeration rewrite must equal the textbook
    oriented self-join it replaced — checked against a pure-Python
    brute force over randomized-shape baskets (seeded, one Spark run)."""
    import itertools
    import random

    from query_refinement_dsit_databases_2021_spark.operators.graph import (
        copurchase_projection,
    )

    rng = random.Random(20260815)
    rows = []
    baskets = {}
    for o in range(60):
        parts = rng.sample(range(30), rng.randint(1, 7))
        # inject duplicate lineitems: dedup is part of the contract
        for p in parts + parts[:1]:
            rows.append((o, p))
        baskets[o] = sorted(set(parts))
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    got = [
        (r["pa"], r["pb"], r["co_orders"])
        for r in copurchase_projection(li, top_k=10_000).collect()
    ]
    from collections import Counter

    truth = Counter()
    for ps in baskets.values():
        for a, b in itertools.combinations(ps, 2):
            truth[(a, b)] += 1
    expect = sorted(
        ((a, b, c) for (a, b), c in truth.items()),
        key=lambda t: (-t[2], t[0], t[1]),
    )
    assert got == expect


def test_winsorized_mean_matches_bruteforce_on_random_series(spark):
    """winsorized_mean vs a pure-Python replay of the exact
    percentile_disc convention (smallest value with cume_dist >= p)
    over randomized per-key series — seeded, one Spark run."""
    import math
    import random
    from datetime import datetime

    from query_refinement_dsit_databases_2021_spark.operators.timeseries import (
        winsorized_mean,
    )

    rng = random.Random(20260815)
    rows, series = [], {}
    eid = 0
    for k in ("a", "b", "c"):
        n = rng.randint(3, 40)
        vals = [round(rng.uniform(0, 500), 2) for _ in range(n)]
        series[k] = vals
        for v in vals:
            rows.append((eid, datetime(2024, 3, 1, 0, eid % 60), 1, k, v))
            eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    got = {r["event_type"]: r for r in winsorized_mean(df).collect()}

    def disc(sorted_c, p):
        n = len(sorted_c)
        return sorted_c[max(0, math.ceil(p * n) - 1)]

    for k, vals in series.items():
        cents = sorted(math.floor(v * 100 + 0.5) for v in vals)
        lo, hi = disc(cents, 0.1), disc(cents, 0.9)
        ws = sum(min(max(c, lo), hi) for c in cents)
        r = got[k]
        assert (r["lo_cents"], r["hi_cents"]) == (lo, hi), k
        assert r["win_mean_micro"] == ws * 10000 // len(cents), k


def test_mann_kendall_matches_bruteforce_on_random_series(spark):
    """S, var18, z, and the trend call vs a pure-Python replay over
    randomized tie-heavy series (seeded, one Spark run)."""
    import math
    import random
    from datetime import datetime, timedelta

    from query_refinement_dsit_databases_2021_spark.operators.timeseries import (
        mann_kendall,
    )

    rng = random.Random(20260815)
    rows, series = [], {}
    eid = 0
    for k in ("a", "b", "c", "d"):
        n = rng.randint(4, 25)
        # draw from a SMALL integer set so tie groups actually occur
        vals = [float(rng.choice([5, 5, 7, 9, 9, 12])) for _ in range(n)]
        series[k] = [int(v * 100) for v in vals]
        for d, v in enumerate(vals):
            rows.append(
                (eid, datetime(2024, 3, 1) + timedelta(days=d), 1, k, v)
            )
            eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    got = {r["event_type"]: r for r in mann_kendall(df).collect()}
    for k, y in series.items():
        n = len(y)
        s = sum(
            (y[j] > y[i]) - (y[j] < y[i])
            for i in range(n)
            for j in range(i + 1, n)
        )
        from collections import Counter

        ties = Counter(y)
        var18 = n * (n - 1) * (2 * n + 5) - sum(
            t * (t - 1) * (2 * t + 5) for t in ties.values() if t > 1
        )
        if var18 <= 0:
            assert k not in got
            continue
        r = got[k]
        assert (r["s_stat"], r["var18"]) == (s, var18), k
        zc = (s - (s > 0) + (s < 0)) / math.sqrt(var18 / 18.0)
        assert r["z"] == math.floor(zc * 1e6 + 0.5) / 1e6, k


def test_ar1_matches_bruteforce_on_random_series(spark):
    """slope/intercept/forecast vs a pure-Python replay of the
    closed-form OLS over random multi-event days (exercises the
    daily-mean integral division too). Seeded, one Spark run."""
    import math
    import random
    from datetime import datetime, timedelta

    from query_refinement_dsit_databases_2021_spark.operators.timeseries import (
        ar1_forecast,
    )

    rng = random.Random(20260815)
    rows, days = [], {}
    eid = 0
    for k in ("a", "b"):
        per_day = []
        for d in range(rng.randint(5, 15)):
            vals = [round(rng.uniform(1, 400), 2) for _ in range(rng.randint(1, 4))]
            per_day.append(vals)
            for v in vals:
                rows.append(
                    (eid, datetime(2024, 3, 1) + timedelta(days=d), 1, k, v)
                )
                eid += 1
        days[k] = per_day
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    got = {r["event_type"]: r for r in ar1_forecast(df).collect()}
    for k, per_day in days.items():
        ym = [
            sum(math.floor(v * 100 + 0.5) for v in vals) // len(vals)
            for vals in per_day
        ]
        pairs = list(zip(ym[:-1], ym[1:]))
        n = len(pairs)
        sx = sum(p for p, _ in pairs)
        sy = sum(q for _, q in pairs)
        sxx = sum(p * p for p, _ in pairs)
        sxy = sum(p * q for p, q in pairs)
        den = n * sxx - sx * sx
        if den <= 0:
            assert k not in got
            continue
        slope = math.floor((n * sxy - sx * sy) / den * 1e6 + 0.5) / 1e6
        icept = math.floor((sy - slope * sx) / (n * 100.0) * 1e6 + 0.5) / 1e6
        fc = math.floor((icept + slope * (ym[-1] / 100.0)) * 1e6 + 0.5) / 1e6
        r = got[k]
        assert (r["n_pairs"], r["slope"]) == (n, slope), k
        assert (r["intercept"], r["forecast"]) == (icept, fc), k
