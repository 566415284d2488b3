"""Seeded generators: the series, the CP query mix, the stream and the
edge list. One ``(seed, stream, index)`` triple fixes every draw, so a
seed yields byte-identical inputs and the i-th query does not depend on
how many queries ran before it."""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from perfbench import reference as ref

_STREAMS = {"series": 1, "interactive": 2, "scale": 3, "stream": 4, "edges": 5}
# every constraint bound sits in the middle of a gap at least this wide
# between sorted candidate values (values are 6-dp series differences
# or means, so distinct values are >= 1e-6 apart at the excess measures)
GAP = 5e-7
# passing-row targets per intended action; k is drawn relative to them
PASS_TARGET = {
    "all": (20, 300),
    "limit": (60, 2000),
    "exact": (5, 200),
    "tighten": (100, 3000),
    "relax": (1, 60),
}


def rng(seed: int, stream: str, index: int = 0) -> np.random.Generator:
    return np.random.default_rng([seed, _STREAMS[stream], index])


def series(seed: int, n: int) -> np.ndarray:
    """Two tones plus noise plus bursts, rounded to 6 dp. The bursts
    give the excess measures windows that stand out from their
    neighbourhood, so excess constraints have passing windows."""
    g = rng(seed, "series")
    t = np.arange(n)
    y = (
        0.6 * np.sin(2 * np.pi * t / 977 + g.uniform(0, 6.3))
        + 0.3 * np.sin(2 * np.pi * t / 131 + g.uniform(0, 6.3))
        + g.normal(0.0, 0.25, n)
    )
    n_bursts = n // 400
    start = g.integers(0, n, n_bursts)
    width = g.integers(3, 26, n_bursts)
    height = g.uniform(1.5, 5.0, n_bursts)
    idx = np.repeat(start, width) + (
        np.arange(width.sum()) - np.repeat(np.cumsum(width) - width, width)
    )
    shape = np.repeat(height, width) * np.sin(
        np.pi * (idx - np.repeat(start, width) + 0.5) / np.repeat(width, width)
    )
    keep = idx < n
    np.add.at(y, idx[keep], shape[keep])
    return np.round(y, 6)


@dataclass(frozen=True)
class MixEntry:
    """One slot of a workload's query cycle, fixed by construction."""

    action: str  # all | limit | exact | tighten | relax
    measures: tuple[tuple[str, int | None], ...]  # (measure, neighbourhood)
    n_x: int  # start positions
    n_l: int  # offsets
    l0: int = 8  # lowest offset
    open_side: str | None = None  # x_lo | x_hi | lx_lo: bound left as None


@dataclass
class CPQuery:
    text: str
    entry: MixEntry
    domains: tuple[int, int, int, int]  # resolved (x0, x1, l0, l1)
    exp: ref.Expected


def _gap_mids(values: np.ndarray) -> np.ndarray:
    """Midpoints of the gaps of at least GAP between sorted values."""
    u = np.unique(values)
    g = np.flatnonzero(np.diff(u) >= GAP)
    return (u[g] + u[g + 1]) / 2


def _snap(mids: np.ndarray, v: float) -> float:
    i = int(np.clip(np.searchsorted(mids, v), 1, mids.size - 1))
    m = mids[i] if abs(mids[i] - v) < abs(mids[i - 1] - v) else mids[i - 1]
    return float(f"{m:.10f}")


def choose_bounds(
    cols: list[np.ndarray],
    gap_cols: list[np.ndarray],
    action: str,
    one_sided: bool,
    g: np.random.Generator,
) -> list[tuple[float, float | None]]:
    """Constraint intervals at NumPy quantiles of each measure whose
    joint passing count lands in ``PASS_TARGET[action]``: nested
    intervals grow with one share ``p`` per constraint, bisected. Ties
    in a measure can make the target unreachable; then the bounds whose
    count came closest (in log distance) are returned."""
    lo_t, hi_t = PASS_TARGET[action]
    srt = [np.sort(c) for c in cols]
    mids = [_gap_mids(c) for c in gap_cols]
    best, best_miss = None, np.inf
    for _attempt in range(10):
        pos = g.uniform(0.05, 0.95, len(cols))
        p_lo, p_hi = 1e-6, 1.0
        for _ in range(40):
            p = float(np.sqrt(p_lo * p_hi))
            bounds, ok = [], np.ones(cols[0].size, dtype=bool)
            for j, (s, c, m) in enumerate(zip(srt, cols, mids)):
                if one_sided and j == 0:  # [quantile(1 - p), None]
                    lo, hi = _snap(m, s[int((1 - p) * (s.size - 1))]), None
                else:
                    q = pos[j] * (1 - p)
                    lo = _snap(m, s[int(q * (s.size - 1))])
                    hi = _snap(m, s[int(min(q + p, 1.0) * (s.size - 1))])
                    if hi <= lo:
                        hi = _snap(m, s[-1])
                bounds.append((lo, hi))
                ok &= ref.passes(c, lo, hi)
            n = int(ok.sum())
            miss = np.log((lo_t + 0.5) / (n + 0.5)) if n < lo_t else (
                np.log((n + 0.5) / (hi_t + 0.5)) if n > hi_t else 0.0
            )
            if miss < best_miss:
                best, best_miss = bounds, miss
            if n < lo_t:
                p_lo = p
            elif n > hi_t:
                p_hi = p
            else:
                return bounds
    return best


def query_text(table, column, domains_text, cons, k, refined) -> str:
    lines = [
        "SELECT time_id, offset IN_DOMAIN "
        f"[{domains_text[0]}, {domains_text[1]}], "
        f"[{domains_text[2]}, {domains_text[3]}]",
        f"FROM {table}.{column}",
        "WHERE " + " and ".join(c.text() for c in cons),
    ]
    if k is not None:
        lines.append(f"LIMIT {'REFINED ' if refined else ''}{k}")
    return "\n".join(lines)


def _domains(entry: MixEntry, n: int, g: np.random.Generator):
    """Resolved domains and their query text (None for the open side)."""
    margin = 64
    if entry.open_side == "x_lo":
        x0, x1 = 1, entry.n_x
    elif entry.open_side == "x_hi":
        x0, x1 = n - entry.n_x + 1, n
    else:
        x0 = int(g.integers(margin, n - entry.n_x - entry.n_l - margin))
        x1 = x0 + entry.n_x - 1
    l0 = 1 if entry.open_side == "lx_lo" else entry.l0
    l1 = l0 + entry.n_l - 1
    text = [x0, x1, l0, l1]
    slot = {"x_lo": 0, "x_hi": 1, "lx_lo": 2}.get(entry.open_side)
    if slot is not None:
        text[slot] = "None"
    return (x0, x1, l0, l1), text


def _k(action: str, n_pass: int, g: np.random.Generator) -> int | None:
    if action == "all":
        return None
    if action == "exact":
        return n_pass
    if action == "relax":
        return n_pass + int(g.integers(20, 101))
    # limit, tighten: below the pass target; tighten needs k < n
    return min(int(g.integers(10, 51)), max(1, n_pass - 1))


def cp_query(
    y: np.ndarray, seed: int, stream: str, i: int, mix: tuple[MixEntry, ...],
    table: str,
) -> CPQuery:
    """The i-th query of a workload's mix over series ``y``."""
    entry = mix[i % len(mix)]
    g = rng(seed, stream, i)
    domains, dtext = _domains(entry, y.size, g)
    measures = list(entry.measures)
    x, lx, cols = ref.candidates(y, domains, measures)
    one_sided = entry.action == "relax"
    bounds = choose_bounds(cols, cols, entry.action, one_sided, g)
    cons = [
        ref.Constraint(name, w, lo, hi, bool(g.integers(0, 2)))
        for (name, w), (lo, hi) in zip(measures, bounds)
    ]
    n_pass = int(np.logical_and.reduce(
        [ref.passes(c, b[0], b[1]) for c, b in zip(cols, bounds)]
    ).sum())
    k = _k(entry.action, n_pass, g)
    refined = entry.action in ("exact", "tighten", "relax")
    x0, x1, l0, l1 = domains
    exp = ref.expected(
        x, lx, cols, cons, k, refined, (x1 - x0 + 1) * (l1 - l0 + 1)
    )
    if exp.action != entry.action:
        raise RuntimeError(f"generated {exp.action}, intended {entry.action}")
    return CPQuery(query_text(table, "v", dtext, cons, k, refined), entry, domains, exp)


@dataclass
class StreamPlan:
    """A refinement query re-run over a series that grows by equal
    micro-batches; ``expected[b]`` is the answer after batch ``b``."""

    text: str
    batch_rows: int
    expected: list[ref.Expected]


def stream_plan(
    y: np.ndarray, seed: int, cycle: int, n_batches: int, entry: MixEntry,
    k: int, table: str,
) -> StreamPlan:
    """``entry`` fixes the measures and the offset domain; the start
    domain is [1, None], re-resolved to the series head every trigger."""
    g = rng(seed, "stream", cycle)
    batch = y.size // n_batches
    l0, l1 = entry.l0, entry.l0 + entry.n_l - 1
    measures = list(entry.measures)
    per_batch = [
        ref.candidates(y[: (b + 1) * batch], (1, (b + 1) * batch, l0, l1), measures)
        for b in range(n_batches)
    ]
    # bounds from the first trigger, in gaps of every trigger's values
    gap_cols = [
        np.concatenate([cols[j] for _x, _lx, cols in per_batch])
        for j in range(len(measures))
    ]
    bounds = choose_bounds(per_batch[0][2], gap_cols, "tighten", False, g)
    cons = [
        ref.Constraint(name, w, lo, hi, bool(g.integers(0, 2)))
        for (name, w), (lo, hi) in zip(measures, bounds)
    ]
    text = query_text(table, "y", [1, "None", l0, l1], cons, k, True)
    expected = []
    for b, (x, lx, cols) in enumerate(per_batch):
        n = (b + 1) * batch
        expected.append(ref.expected(x, lx, cols, cons, k, True, n * (l1 - l0 + 1)))
    return StreamPlan(text, batch, expected)


def edges(seed: int, n_nodes: int, n_edges: int, alpha: float):
    """Power-law edge list: both endpoints drawn with weight rank^-alpha
    over a shuffled id space (duplicates and self-loops included; the
    operators canonicalize)."""
    g = rng(seed, "edges")
    w = np.arange(1, n_nodes + 1, dtype=np.float64) ** -alpha
    p = w / w.sum()
    perm = g.permutation(n_nodes).astype(np.int64)
    src = perm[g.choice(n_nodes, n_edges, p=p)]
    dst = perm[g.choice(n_nodes, n_edges, p=p)]
    return src, dst
