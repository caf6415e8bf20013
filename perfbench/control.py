"""Same-time control for query latencies: a fixed unit of CPU work that
runs no program code.

The machine's speed swings by about ±20% over a few seconds: the median
time of one fixed numpy + Python loop, taken over 5 s windows of one
minute, ranged 2.8-4.3 ms. Between processes it differs more: the median
AND top-k latency of one index and query pool, measured in eight fresh
processes, ranged 0.17-0.36 ms. Two different fixed loops interleaved in
one process slow down together, and the ratio of their window medians held
within 2%. So each timed query is followed by one control unit, and its
latency is scaled by REF_MS / (median of the control units run beside it).
The eight processes above then read 0.23-0.27 ms. A slower or faster
moment or process cancels, and what is left moves with the program.

Spark builds and writes are not scaled: a control unit run just before and
after a build did not track its time (the spread of the build rate over
four runs stayed at 0.16 against 0.17 unscaled).

The unit mixes what serving does: array lookups, sorts and partial sorts on
small numpy arrays, a regex tokenization and dict counting in Python. The
unscaled figures go to stderr and into the trace file of a traced run.
"""

from __future__ import annotations

import re
import time

import numpy as np

# About the median unit time on the reference machine (4 cores) with the
# unit run alone; it only sets the scale of the reported figures.
REF_MS = 0.25
WINDOW = 50  # control units on each side of a step: about a second of work

_rng = np.random.default_rng(12345)
_SORTED = np.sort(_rng.integers(0, 1 << 20, 4096))
_PROBES = _rng.integers(0, 1 << 20, 512)
_SCORES = _rng.random(8192)
_TEXT = " ".join(f"t{int(i)}" for i in _rng.zipf(1.3, 300) % 5000)
_WORD = re.compile(r"[a-z0-9]+")


def unit() -> float:
    """One control unit; returns its wall time in ms."""
    t = time.perf_counter()
    pos = np.searchsorted(_SORTED, _PROBES)
    top = np.argpartition(_SCORES[pos % _SCORES.size], -10)[-10:]
    np.sort(_SCORES[:2048])
    counts: dict[str, int] = {}
    for w in _WORD.findall(_TEXT):
        counts[w] = counts.get(w, 0) + 1
    sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[: int(top.size)]
    return (time.perf_counter() - t) * 1000.0


def local_scales(samples_ms: list[float]) -> np.ndarray:
    """For control units interleaved one per step with timed work: the
    scale of each step, from the units within WINDOW steps of it. The
    machine's speed moves within a run, so a step is scaled by the units
    run in the same second, not by the run's overall median."""
    x = np.asarray(samples_ms, dtype=np.float64)
    med = [np.median(x[max(0, i - WINDOW) : i + WINDOW + 1]) for i in range(x.size)]
    return REF_MS / np.asarray(med)
