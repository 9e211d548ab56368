"""Types shared by the runner and the workloads."""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Callable

import numpy as np


@dataclass
class Op:
    """One closed-loop request. ``run`` is timed; ``check`` runs after the
    timer stops and returns None when the result is right, else a reason.
    ``kind`` groups ops for per-kind figures, ``klass`` is "write" or
    "read" for the store mix, ``docs`` the documents the op processed and
    ``repeat`` marks an op whose input an earlier op already used."""

    kind: str
    run: Callable[[], Any]
    check: Callable[[Any], str | None]
    klass: str = "read"
    docs: int = 0
    repeat: bool = False


@dataclass
class Record:
    kind: str
    klass: str
    ms: float
    ok: bool
    docs: int
    repeat: bool


@dataclass
class Context:
    """What a workload gets from the runner: the session, the generated
    tables, a private work directory, the tracer and a seeded RNG for op
    choices. ``sf`` is the scale the inputs were generated at."""

    spark: Any
    sf: float
    data_dir: str
    tables: dict
    work_dir: str
    tracer: Any
    rng: np.random.Generator


def median(values) -> float:
    return float(np.median(values)) if len(values) else 0.0


def tail(values_ms) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it:
    (value, percentile, samples). With ten or fewer samples there is no
    such percentile and the maximum is reported as percentile 100."""
    xs = sorted(values_ms)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    if n <= 10:
        return float(xs[-1]), 100.0, n
    return float(xs[n - 11]), 100.0 * (n - 10) / n, n
