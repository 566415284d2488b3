"""Stage timers + CSV sink (SURVEY §2.1 K3).

The reference wall-clocks named pipeline stages and dumps them to a
per-run CSV ``[Name, Seconds]`` (reference:src/LibraryOfTime.py:7-26,
73-87, called from src/client.py:56-57). Same surface here, with the
same stage names where the stage still exists in the Spark engine, so
runs are comparable side by side. Stages that the set-based engine
removed (create-BST, explore-BST, prep-fails) simply never appear.
"""

from __future__ import annotations

import csv
import time
from contextlib import contextmanager


class StageTimers:
    """Ordered name -> seconds accumulator with context-manager timing."""

    def __init__(self) -> None:
        self._times: dict[str, float] = {}

    @contextmanager
    def stage(self, name: str):
        t0 = time.time()
        try:
            yield
        finally:
            self._times[name] = self._times.get(name, 0.0) + (time.time() - t0)

    def record(self, name: str, seconds: float) -> None:
        self._times[name] = self._times.get(name, 0.0) + seconds

    def as_dict(self) -> dict[str, float]:
        return dict(self._times)

    def save_csv(self, path: str) -> None:
        """Same shape as the reference's timer CSV: header-free rows of
        [Name, Seconds] (reference:src/LibraryOfTime.py:73-87)."""
        with open(path, "w", newline="") as f:
            w = csv.writer(f)
            for name, secs in self._times.items():
                w.writerow([name, f"{secs:.6f}"])
