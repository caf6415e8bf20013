"""Outside-in tracing: spans around calls into the program's public
functions, plus counters at the same boundaries, kept in memory and written
out when the run ends. Untraced runs use NullTracer, which records nothing
and installs no wrappers."""

from __future__ import annotations

import contextlib
import functools
import json
import statistics
import time
from collections import defaultdict


class NullTracer:
    enabled = False

    def span(self, name: str):
        return contextlib.nullcontext()

    def count(self, name: str, value: float = 1) -> None:
        pass

    def instrument(self, owner, attr: str, name: str, counter=None) -> None:
        pass

    def restore(self) -> None:
        pass

    def restore_instance(self, owner) -> None:
        pass

    def mark(self) -> int:
        return 0


class Tracer(NullTracer):
    enabled = True

    def __init__(self) -> None:
        self.spans: list[tuple[int, int | None, str, float, float]] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object, bool]] = []
        self._marks: dict[int, dict[str, float]] = {}

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append((sid, parent, name, time.perf_counter(), 0.0))
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            s = self.spans[sid]
            self.spans[sid] = (s[0], s[1], s[2], s[3], time.perf_counter())

    def count(self, name: str, value: float = 1) -> None:
        self.counters[name] += value

    def instrument(self, owner, attr: str, name: str, counter=None) -> None:
        """Wrap `owner.attr` (an instance, or the class that defines it) in a
        span named `name`; `counter(result)` → {counter: value} is added
        after each call. `restore` puts the originals back."""
        is_class = isinstance(owner, type)
        had = attr in vars(owner)
        if is_class and not had:
            raise ValueError(f"{owner.__name__}.{attr} is inherited; instrument its definer")
        orig = vars(owner)[attr] if is_class else getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                out = orig(*args, **kwargs)
            if counter is not None:
                for k, v in counter(out).items():
                    tracer.count(k, v)
            return out

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig, had))

    def restore(self) -> None:
        for owner, attr, orig, had in reversed(self._patches):
            if had:
                setattr(owner, attr, orig)
            else:
                delattr(owner, attr)
        self._patches.clear()

    def restore_instance(self, owner) -> None:
        keep = []
        for patch in reversed(self._patches):
            if patch[0] is not owner:
                keep.append(patch)
            elif patch[3]:
                setattr(owner, patch[1], patch[2])
            else:
                delattr(owner, patch[1])
        self._patches = keep[::-1]

    def mark(self) -> int:
        """A position in the span record: the figures below take `since`
        to leave out the spans and counts recorded before it."""
        self._marks[len(self.spans)] = dict(self.counters)
        return len(self.spans)

    def counter(self, name: str, since: int = 0) -> float:
        return self.counters.get(name, 0) - self._marks.get(since, {}).get(name, 0)

    def durations(self, name: str, since: int = 0) -> list[float]:
        return [e - s for _, _, n, s, e in self.spans[since:] if n == name]

    def total(self, name: str, since: int = 0) -> float:
        return sum(self.durations(name, since))

    def median_ms(self, name: str, since: int = 0) -> float | None:
        d = self.durations(name, since)
        return statistics.median(d) * 1000.0 if d else None

    def child_totals(self, parent: str, child: str, since: int = 0) -> list[float]:
        """For each span named `parent`, in order: the summed duration of
        its descendant spans named `child`."""
        sums = {sid: 0.0 for sid, _, n, _, _ in self.spans[since:] if n == parent}
        up = {sid: p for sid, p, _, _, _ in self.spans}
        for sid, p, n, s, e in self.spans[since:]:
            if n != child:
                continue
            while p is not None and p not in sums:
                p = up[p]
            if p is not None:
                sums[p] += e - s
        return list(sums.values())

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus time covered by child spans."""
        child: dict[int, float] = defaultdict(float)
        for _, parent, _, s, e in self.spans:
            if parent is not None:
                child[parent] += e - s
        out: dict[str, float] = defaultdict(float)
        for sid, _, n, s, e in self.spans:
            out[n] += (e - s) - child[sid]
        return dict(out)

    def dump(self, path: str, extra: dict | None = None) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": [
                        {"id": i, "parent": p, "name": n, "start": s, "end": e}
                        for i, p, n, s, e in self.spans
                    ],
                    "counters": dict(self.counters),
                    "self_time_s": self.self_times(),
                    **(extra or {}),
                },
                f,
            )
