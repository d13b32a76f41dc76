"""Timing wrapper for MapReduce app functions, kept in a module of its own
so the Python workers that unpickle it import nothing else."""

from __future__ import annotations

import time


class Timed:
    """Wraps an app function and adds its time to a Spark accumulator."""

    def __init__(self, fn, acc) -> None:
        self.fn, self.acc = fn, acc

    def __call__(self, *args):
        t = time.perf_counter()
        try:
            return self.fn(*args)
        finally:
            self.acc.add(time.perf_counter() - t)
