#!/usr/bin/env python
"""Interleaved same-session A/B bench: this checkout (CUR) vs a
reference commit (REF), query by query, so ambient load cancels.

Why (r06 verdict item 2): the box's ambient swing (±3 s on a 33-36 s
frozen-set total; individual >30% per-query swings on untouched code)
exceeds any single-run signal, so round-over-round BENCH diffs cannot
distinguish a real regression from a noisy draw. Here both sides are
timed alternately within the same minutes — any ambient transient
hits CUR and REF near-equally, and the per-query CUR/REF min ratio is
a code-change measurement, not a weather report.

Protocol:
  * REF is checked out into a throwaway git worktree (never touching
    this working tree), or run from --ref-dir, a clean clone that must
    sit exactly at REF; both sides run tools/bench_worker.py FROM THIS
    CHECKOUT (the worker imports the registry from its --repo, so the
    REF side needs no copy of the worker script).
  * Both workers warm up and force one-time artifacts (PREBUILD) off
    the clock, exactly like bench.py.
  * Each rep walks the frozen 24-name set; for every query the two
    sides run back-to-back, side order alternating per rep (A,B on
    even reps, B,A on odd) so neither side systematically rides the
    other's cache shadow or a decaying transient.
  * Output: BENCH_AB file with per-query min/median per side +
    min-ratios, and a compact bench_ab_summary.json that bench.py
    echoes on its final line (the "same-session comparison column").

Usage:
  python tools/bench_ab.py --ref <rev> [--repeat 5] [--out BENCH_AB_r07.json]
                           [--ref-dir <existing checkout of rev>]
"""

from __future__ import annotations

import argparse
import datetime
import json
import os
import shutil
import statistics
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import FROZEN_24, PREBUILD_NAMES  # noqa: E402


class Worker:
    def __init__(self, label: str, repo: str, sf_dir: str, cpus: int):
        self.label = label
        self.proc = subprocess.Popen(
            [
                sys.executable,
                os.path.join(REPO, "tools", "bench_worker.py"),
                "--repo", repo,
                "--sf-dir", sf_dir,
                "--cpus", str(cpus),
                "--label", label,
            ],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            stderr=subprocess.DEVNULL,
            text=True,
        )

    def cmd(self, line: str) -> str:
        assert self.proc.stdin and self.proc.stdout
        self.proc.stdin.write(line + "\n")
        self.proc.stdin.flush()
        resp = self.proc.stdout.readline().strip()
        if not resp:
            raise RuntimeError(f"{self.label}: worker died on {line!r}")
        return resp

    def time(self, name: str) -> tuple[float, int]:
        resp = self.cmd(f"TIME {name}")
        if not resp.startswith("OK "):
            raise RuntimeError(f"{self.label}: {resp}")
        _, _, dt, n = resp.split()
        return float(dt), int(n)

    def close(self) -> None:
        try:
            self.cmd("EXIT")
        except Exception:
            pass
        self.proc.wait(timeout=60)


def _git(cwd: str, *args: str) -> str:
    return subprocess.run(
        ["git", *args], cwd=cwd, capture_output=True, text=True, check=True,
    ).stdout.strip()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--ref", required=True, help="reference commit/rev")
    ap.add_argument("--repeat", type=int, default=5)
    ap.add_argument("--out", default=None, help="full-result JSON path")
    ap.add_argument(
        "--summary-out",
        default=os.path.join(REPO, "bench_ab_summary.json"),
        help="compact summary echoed by bench.py (empty string to skip)",
    )
    ap.add_argument(
        "--flag-pct", type=float, default=20.0,
        help="|min ratio - 1| above this %% flags the query",
    )
    ap.add_argument(
        "--names", nargs="+", default=None,
        help="restrict to these frozen-set names (adjudication runs); "
        "the compact summary is skipped so a subset run never "
        "masquerades as a full-set comparison on bench.py's echo line",
    )
    ap.add_argument(
        "--ref-dir", default=None,
        help="a clean git clone checked out at --ref, run instead of a "
        "throwaway worktree; refused unless its HEAD is --ref",
    )
    args = ap.parse_args()

    names = list(FROZEN_24)
    if args.names:
        # any REGISTRY name is adjudicable (r10: the contested wins are
        # non-frozen workloads); the worker resolves names from its own
        # checkout's registry and reports ERR for unknowns. The compact
        # summary is still skipped for subset runs, so bench.py's echo
        # line never mistakes an adjudication for a full-set comparison.
        names = list(args.names)
        args.summary_out = ""

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))

    ref_sha = _git(REPO, "rev-parse", "--short", args.ref)
    cur_sha = _git(REPO, "rev-parse", "--short", "HEAD")
    # CUR runs the working tree, which may carry uncommitted edits
    if _git(REPO, "status", "--porcelain", "--untracked-files=no"):
        cur_sha += "-dirty"
    if args.ref_dir is not None:
        # an unchecked directory would be recorded as ref_sha whatever
        # it holds: demand the exact commit and no tracked edits
        want = _git(REPO, "rev-parse", f"{args.ref}^{{commit}}")
        have = _git(args.ref_dir, "rev-parse", "HEAD")
        if have != want or _git(
            args.ref_dir, "status", "--porcelain", "--untracked-files=no"
        ):
            raise SystemExit(
                f"--ref-dir {args.ref_dir} is not a clean checkout of "
                f"{args.ref} ({want[:12]}): HEAD is {have[:12]}"
            )

    own_wt = args.ref_dir is None
    wt = args.ref_dir or f"/tmp/bench_ab_ref_{ref_sha}"
    if own_wt:
        if os.path.exists(wt):
            subprocess.run(
                ["git", "worktree", "remove", "--force", wt], cwd=REPO,
                capture_output=True,
            )
            shutil.rmtree(wt, ignore_errors=True)
        subprocess.run(
            ["git", "worktree", "add", "--detach", wt, ref_sha],
            cwd=REPO, check=True, capture_output=True,
        )

    cur = ref = None
    try:
        cur = Worker("cur", REPO, sf_dir, cpus)
        ref = Worker("ref", wt, sf_dir, cpus)
        for w in (cur, ref):
            assert w.cmd("WARM") == "READY", w.label
            for name in PREBUILD_NAMES:
                if name not in names:
                    continue
                resp = w.cmd(f"PREBUILD {name}")
                print(f"# {w.label} prebuild: {resp}", file=sys.stderr)

        samples: dict[str, dict[str, list[float]]] = {
            n: {"cur": [], "ref": []} for n in names
        }
        errors: list[dict[str, object]] = []
        for rep in range(args.repeat):
            order = (cur, ref) if rep % 2 == 0 else (ref, cur)
            for name in names:
                for w in order:
                    # a transient per-query failure must not abort a
                    # multi-hour interleaved session: record and move on
                    # RuntimeError: worker-reported query failure;
                    # OSError/EOFError: the worker process itself died
                    # mid-call and the pipe broke — both must be
                    # recorded-and-skipped, not abort the session
                    try:
                        dt, _ = w.time(name)
                    except (RuntimeError, OSError, EOFError) as exc:
                        errors.append(
                            {"query": name, "side": w.label,
                             "rep": rep + 1, "err": str(exc)[:500]}
                        )
                        print(
                            f"# rep {rep + 1}/{args.repeat} {w.label} "
                            f"{name}: ERROR {exc}",
                            file=sys.stderr,
                        )
                        continue
                    samples[name][w.label].append(dt)
                    print(
                        f"# rep {rep + 1}/{args.repeat} {w.label} "
                        f"{name}: {dt:.3f}s",
                        file=sys.stderr,
                    )
    finally:
        for w in (cur, ref):
            if w is not None:
                w.close()
        if own_wt:
            subprocess.run(
                ["git", "worktree", "remove", "--force", wt], cwd=REPO,
                capture_output=True,
            )

    per_query = {}
    flagged = []
    dead = [
        n for n, s in samples.items() if not s["cur"] or not s["ref"]
    ]
    if dead:
        raise SystemExit(
            f"zero successful samples on at least one side for {dead}; "
            f"errors: {errors}"
        )
    for name, s in samples.items():
        cmin, rmin = min(s["cur"]), min(s["ref"])
        ratio = round(cmin / rmin, 3) if rmin > 0 else None
        per_query[name] = {
            "cur_min": round(cmin, 3),
            "cur_median": round(statistics.median(s["cur"]), 3),
            "ref_min": round(rmin, 3),
            "ref_median": round(statistics.median(s["ref"]), 3),
            "min_ratio": ratio,
        }
        if ratio is not None and abs(ratio - 1) * 100 > args.flag_pct:
            flagged.append(name)

    total_cur_min = round(sum(v["cur_min"] for v in per_query.values()), 3)
    total_ref_min = round(sum(v["ref_min"] for v in per_query.values()), 3)
    result = {
        "metric": "bench_ab_interleaved",
        "cur": cur_sha,
        "ref": ref_sha,
        "ref_checkout": "worktree" if own_wt else "ref_dir",
        "date": datetime.date.today().isoformat(),
        "sf_dir": sf_dir,
        "cpus": cpus,
        "repeat": args.repeat,
        "total_cur_min": total_cur_min,
        "total_ref_min": total_ref_min,
        "total_min_ratio": round(total_cur_min / total_ref_min, 3),
        "flagged_over_pct": args.flag_pct,
        "flagged": sorted(flagged),
        "errors": errors,
        "per_query": per_query,
    }
    out = args.out or os.path.join(REPO, f"BENCH_AB_{cur_sha}.json")
    with open(out, "w") as fh:
        json.dump(result, fh, indent=1)
    print(f"# wrote {out}", file=sys.stderr)

    if args.summary_out:
        summary = {k: result[k] for k in (
            "cur", "ref", "date", "repeat",
            "total_cur_min", "total_ref_min", "total_min_ratio", "flagged",
        )}
        with open(args.summary_out, "w") as fh:
            json.dump(summary, fh)
        print(f"# wrote {args.summary_out}", file=sys.stderr)

    print(json.dumps({k: v for k, v in result.items() if k != "per_query"}))


if __name__ == "__main__":
    main()
