"""Vectorized NumPy reference for the generated CP queries and graph pass.

Independent of the engine: it shares no code with the package, only the
documented semantics (measure definitions, refinement dispatch, the
``(round(score, 9), x, lx)`` tie order and 9-dp measure rounding, and the
integer graph contracts). Every check is a pure function of the
generated input and the rows the engine returned.

Float sums are taken in a different order than Spark's, so a measure
can differ from the engine's in its last bits. The generator places
every constraint bound in a gap of at least ``gen.GAP`` between
candidate values, which makes pass/fail unambiguous; score cut-offs
(top-k, best-k failing) are compared with tolerance ``SCORE_TOL``.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

MEASURE_DP = 9
SCORE_TOL = 1e-8
ALPHA = 0.5  # RD-vs-VC weight of the relaxation penalty
MRP = 1.0  # relaxation admission ceiling


@dataclass(frozen=True)
class Constraint:
    name: str  # avg_amp | max_amp_excess_left | max_amp_excess_right
    w: int | None  # neighbourhood width of the excess measures
    lo: float | None
    hi: float | None
    maximize: bool

    def text(self) -> str:
        def fmt(b):
            return "None" if b is None else f"{b:.10f}"

        arg = "" if self.w is None else str(self.w)
        goal = "MAX" if self.maximize else "MIN"
        return f"{self.name}({arg}) in [{fmt(self.lo)}, {fmt(self.hi)}] {goal}"


# ---------------------------------------------------------------------------
# candidates and measures
# ---------------------------------------------------------------------------


class Segment:
    """The dense slice ``y[t_start..t_end]`` a query reads (time ids are
    1-based positions into the full series), with range-max and prefix
    sums over it."""

    def __init__(self, y: np.ndarray, t_start: int, t_end: int):
        self.t_start, self.t_end = t_start, t_end
        self.y = y[t_start - 1 : t_end]
        self.prefix = np.concatenate([[0.0], np.cumsum(self.y)])
        self._levels = [self.y]

    def range_max(self, lo: np.ndarray, hi: np.ndarray) -> np.ndarray:
        """max(y[lo..hi]) for inclusive time-id arrays (sparse table)."""
        length = hi - lo + 1
        j = np.floor(np.log2(length)).astype(np.int64)
        while len(self._levels) <= j.max():
            prev, step = self._levels[-1], 1 << (len(self._levels) - 1)
            nxt = prev.copy()
            nxt[:-step] = np.maximum(prev[:-step], prev[step:])
            self._levels.append(nxt)
        a = lo - self.t_start
        b = hi - self.t_start - (1 << j) + 1
        out = np.empty(lo.shape)
        for lvl in np.unique(j):
            sel = j == lvl
            m = self._levels[lvl]
            out[sel] = np.maximum(m[a[sel]], m[b[sel]])
        return out

    def window_mean(self, x: np.ndarray, lx: np.ndarray) -> np.ndarray:
        a = x - self.t_start
        return (self.prefix[a + lx + 1] - self.prefix[a]) / (lx + 1)


def candidate_grid(x0: int, x1: int, l0: int, l1: int, t_start: int, t_end: int):
    """All ``(x, lx)`` with x in [x0, x1] ∩ data and a complete window."""
    xs = np.arange(max(x0, t_start), min(x1, t_end) + 1, dtype=np.int64)
    lxs = np.arange(l0, l1 + 1, dtype=np.int64)
    x = np.repeat(xs, lxs.size)
    lx = np.tile(lxs, xs.size)
    keep = x + lx <= t_end
    return x[keep], lx[keep]


def measure(seg: Segment, x: np.ndarray, lx: np.ndarray, name: str, w: int | None):
    if name == "avg_amp":
        v = seg.window_mean(x, lx)
    elif name == "max_amp_excess_right":
        xp = x + lx
        lxp = np.minimum(w, seg.t_end - xp)
        v = seg.range_max(x, xp) - seg.range_max(xp, xp + lxp)
    elif name == "max_amp_excess_left":
        wp = np.minimum(w, x - seg.t_start)
        v = seg.range_max(x, x + lx) - seg.range_max(x - wp, x)
    else:
        raise KeyError(name)
    return np.round(v, MEASURE_DP)


def passes(values: np.ndarray, lo: float | None, hi: float | None) -> np.ndarray:
    ok = np.ones(values.shape, dtype=bool)
    if lo is not None:
        ok &= values >= lo
    if hi is not None:
        ok &= values <= hi
    return ok


def rank_score(cols: list[np.ndarray], cons: list[Constraint]) -> np.ndarray:
    """RK = 1 − Σ_c RK_c / |C|, in the engine's operation order."""
    w_c = 1.0 / len(cons)
    total = np.zeros(cols[0].shape)
    for v, c in zip(cols, cons):
        a, b = float(c.lo), float(c.hi)
        rk_c = (b - v) / (b - a) if c.maximize else (a - v) / (b - a)
        total = total + w_c * rk_c
    return 1.0 - total


def relax_penalty(cols: list[np.ndarray], cons: list[Constraint]) -> np.ndarray:
    """RP = α·max_c RD_c + (1−α)·VC with RD normalized by the global
    min/max of each measure over all candidates."""
    rds, n_pass = [], np.zeros(cols[0].shape)
    for v, c in zip(cols, cons):
        min_fc, max_fc = float(v.min()), float(v.max())
        rd = np.zeros(v.shape)
        if c.hi is not None:
            above = v > c.hi
            rd = np.where(above, (v - c.hi) / (max_fc - c.hi), rd)
        if c.lo is not None:
            below = v < c.lo
            rd = np.where(below, (c.lo - v) / (c.lo - min_fc), rd)
        rds.append(rd)
        n_pass = n_pass + passes(v, c.lo, c.hi)
    rd = rds[0] if len(rds) == 1 else np.maximum.reduce(rds)
    vc = (len(cons) - n_pass) / float(len(cons))
    return ALPHA * rd + (1.0 - ALPHA) * vc


def _keys(x: np.ndarray, lx: np.ndarray) -> np.ndarray:
    return x.astype(np.int64) * (1 << 22) + lx.astype(np.int64)


@dataclass
class Expected:
    """Everything needed to judge the engine's rows for one CP query."""

    action: str
    k: int | None
    keys: np.ndarray  # candidate keys, aligned with the arrays below
    passing: np.ndarray  # bool
    score: np.ndarray | None  # rk (tighten) or rp (relax), else None
    udf_size: int  # the engine's candidate-count scale variable
    order: np.ndarray = field(init=False, repr=False)
    keys_sorted: np.ndarray = field(init=False, repr=False)

    def __post_init__(self):
        self.order = np.argsort(self.keys, kind="stable")
        self.keys_sorted = self.keys[self.order]

    @property
    def n_candidates(self) -> int:
        return int(self.keys.size)

    @property
    def n_passing(self) -> int:
        return int(self.passing.sum())


def candidates(y: np.ndarray, domains: tuple[int, int, int, int], measures):
    """Candidate grid of a query over ``y`` with resolved ``domains``
    (x0, x1, l0, l1), and one rounded value column per ``(name, w)``."""
    x0, x1, l0, l1 = domains
    t_start, t_end = max(x0, 1), min(x1 + l1, len(y))
    seg = Segment(y, t_start, t_end)
    x, lx = candidate_grid(x0, x1, l0, l1, t_start, t_end)
    return x, lx, [measure(seg, x, lx, name, w) for name, w in measures]


def expected(
    x: np.ndarray,
    lx: np.ndarray,
    cols: list[np.ndarray],
    cons: list[Constraint],
    k: int | None,
    refined: bool,
    udf_size: int,
) -> Expected:
    """Reference refinement dispatch over precomputed measure columns."""
    ok = np.ones(x.shape, dtype=bool)
    for v, c in zip(cols, cons):
        ok &= passes(v, c.lo, c.hi)
    n = int(ok.sum())
    score = None
    if not refined:
        action = "all" if k is None else "limit"
    elif n == k:
        action = "exact"
    elif n > k:
        action, score = "tighten", rank_score(cols, cons)
    else:
        action, score = "relax", relax_penalty(cols, cons)
    return Expected(action, k, _keys(x, lx), ok, score, udf_size)


def check_rows(exp: Expected, rows: list[tuple[int, int]]) -> str | None:
    """Return None when ``rows`` (time_id, offset) is a correct answer,
    else a one-line reason."""
    got = _keys(
        np.array([r[0] for r in rows], dtype=np.int64),
        np.array([r[1] for r in rows], dtype=np.int64),
    )
    if np.unique(got).size != got.size:
        return "duplicate rows"
    if exp.keys.size == 0:
        return None if got.size == 0 else "rows from an empty candidate set"
    pos = np.searchsorted(exp.keys_sorted, got)
    pos = np.minimum(pos, exp.keys_sorted.size - 1)
    if got.size and not np.all(exp.keys_sorted[pos] == got):
        return "row outside the candidate set"
    idx = exp.order[pos]
    chosen = np.zeros(exp.keys.size, dtype=bool)
    chosen[idx] = True
    passing, n = exp.passing, exp.n_passing
    if exp.action in ("all", "exact"):
        if not np.array_equal(chosen, passing):
            return f"{exp.action}: {got.size} rows, {n} passing expected"
        return None
    if exp.action == "limit":
        if got.size != min(exp.k, n) or np.any(chosen & ~passing):
            return f"limit: {got.size} rows, want {min(exp.k, n)} passing"
        return None
    if exp.action == "tighten":
        if got.size != exp.k or np.any(chosen & ~passing):
            return f"tighten: {got.size} rows, want {exp.k} passing"
        key = np.round(exp.score, MEASURE_DP)
        worst_in = key[chosen].min()
        rest = passing & ~chosen
        if rest.any() and key[rest].max() > worst_in + SCORE_TOL:
            return "tighten: a better-ranked passing row was left out"
        return None
    # relax: every passing row plus the best k − n failing rows, RP <= 1
    if np.any(passing & ~chosen):
        return "relax: a passing row is missing"
    eligible = ~passing & (exp.score <= MRP + SCORE_TOL)
    sure = ~passing & (exp.score <= MRP - SCORE_TOL)
    extra = chosen & ~passing
    lo_n = min(exp.k - n, int(sure.sum()))
    hi_n = min(exp.k - n, int(eligible.sum()))
    if not lo_n <= int(extra.sum()) <= hi_n:
        return f"relax: {int(extra.sum())} relaxed rows, want {lo_n}..{hi_n}"
    if np.any(extra & ~eligible):
        return "relax: a row with RP > 1 was admitted"
    if extra.any():
        key = np.round(exp.score, MEASURE_DP)
        rest = eligible & ~chosen
        if rest.any() and key[rest].min() < key[extra].max() - SCORE_TOL:
            return "relax: a lower-penalty failing row was left out"
    return None


# ---------------------------------------------------------------------------
# graph pass (integer contracts of operators.graph)
# ---------------------------------------------------------------------------

PR_INIT = 1_000_000_000
PR_TELEPORT = 150_000_000
PR_ITERATIONS = 5
KCORE_K = 3


def _pairs_unique(a: np.ndarray, b: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    key = np.unique(a.astype(np.int64) * (1 << 32) + b.astype(np.int64))
    return key >> 32, key & ((1 << 32) - 1)


def pagerank(src: np.ndarray, dst: np.ndarray) -> dict[int, int]:
    s, d = _pairs_unique(src, dst)
    nodes = np.unique(np.concatenate([s, d]))
    si, di = np.searchsorted(nodes, s), np.searchsorted(nodes, d)
    outdeg = np.bincount(si, minlength=nodes.size).astype(np.int64)
    rank = np.full(nodes.size, PR_INIT, dtype=np.int64)
    for _ in range(PR_ITERATIONS):
        send = (85 * rank // 100) // np.maximum(outdeg, 1)
        contrib = np.zeros(nodes.size, dtype=np.int64)
        np.add.at(contrib, di, send[si])
        rank = PR_TELEPORT + contrib
    return dict(zip(nodes.tolist(), rank.tolist()))


def _undirected(src, dst, drop_loops: bool):
    a, b = np.minimum(src, dst), np.maximum(src, dst)
    if drop_loops:
        keep = a < b
        a, b = a[keep], b[keep]
    return _pairs_unique(a, b)


def kcore(src: np.ndarray, dst: np.ndarray, k: int = KCORE_K) -> dict[int, int]:
    a, b = _undirected(src, dst, drop_loops=True)
    nodes = np.unique(np.concatenate([a, b]))
    ai, bi = np.searchsorted(nodes, a), np.searchsorted(nodes, b)
    alive = np.ones(nodes.size, dtype=bool)
    prev = int(alive.sum())
    while True:
        both = alive[ai] & alive[bi]
        deg = np.bincount(ai[both], minlength=nodes.size) + np.bincount(
            bi[both], minlength=nodes.size
        )
        alive = deg >= k
        cur = int(alive.sum())
        if cur == prev:
            return dict(zip(nodes[alive].tolist(), deg[alive].tolist()))
        prev = cur


def _csr(ai: np.ndarray, bi: np.ndarray, n: int):
    order = np.argsort(ai, kind="stable")
    ptr = np.concatenate([[0], np.cumsum(np.bincount(ai, minlength=n))])
    return ptr, bi[order]


def _expand(ptr: np.ndarray, adj: np.ndarray, rows: np.ndarray):
    """(row repeated per neighbour, neighbour) for every row's list."""
    cnt = ptr[rows + 1] - ptr[rows]
    total = int(cnt.sum())
    base = np.repeat(ptr[rows], cnt)
    step = np.arange(total) - np.repeat(np.cumsum(cnt) - cnt, cnt)
    return np.repeat(rows, cnt), adj[base + step]


def bfs_distances(src: np.ndarray, dst: np.ndarray) -> dict[int, int]:
    a, b = _undirected(src, dst, drop_loops=False)
    nodes = np.unique(np.concatenate([a, b]))
    ai, bi = np.searchsorted(nodes, a), np.searchsorted(nodes, b)
    ptr, adj = _csr(np.concatenate([ai, bi]), np.concatenate([bi, ai]), nodes.size)
    dist = np.full(nodes.size, -1, dtype=np.int64)
    frontier = np.array([np.searchsorted(nodes, a.min())])
    dist[frontier] = 0
    level = 0
    while frontier.size:
        _, nbr = _expand(ptr, adj, frontier)
        nbr = np.unique(nbr[dist[nbr] < 0])
        level += 1
        dist[nbr] = level
        frontier = nbr
    reached = dist >= 0
    return dict(zip(nodes[reached].tolist(), dist[reached].tolist()))


def triangle_count(src: np.ndarray, dst: np.ndarray) -> dict[int, int]:
    a, b = _undirected(src, dst, drop_loops=True)
    nodes = np.unique(np.concatenate([a, b]))
    n = nodes.size
    ai, bi = np.searchsorted(nodes, a), np.searchsorted(nodes, b)
    deg = np.bincount(ai, minlength=n) + np.bincount(bi, minlength=n)
    # orient low -> high by (degree, node): out-lists stay short
    a_first = (deg[ai] < deg[bi]) | ((deg[ai] == deg[bi]) & (ai < bi))
    u, v = np.where(a_first, ai, bi), np.where(a_first, bi, ai)
    ptr, adj = _csr(u, v, n)
    edge_keys = np.sort(u.astype(np.int64) * n + v)
    # each triangle u->v, v->w, u->w is found once, at its edge u->v
    uu = np.repeat(u, ptr[v + 1] - ptr[v])
    vv, ww = _expand(ptr, adj, v)
    probe = uu.astype(np.int64) * n + ww
    hit = np.searchsorted(edge_keys, probe)
    hit = np.minimum(hit, edge_keys.size - 1)
    closed = edge_keys[hit] == probe
    credits = (
        np.bincount(uu[closed], minlength=n)
        + np.bincount(vv[closed], minlength=n)
        + np.bincount(ww[closed], minlength=n)
    )
    keep = credits > 0
    return dict(zip(nodes[keep].tolist(), credits[keep].tolist()))


GRAPH_REFERENCE = {
    "pagerank": pagerank,
    "kcore": kcore,
    "bfs_distances": bfs_distances,
    "triangle_count": triangle_count,
}
