"""Helpers that need no Spark: the percentile rule, failure accounting,
spans and process-tree readings from /proc. The benchmark's own tests
cover them without a JVM.
"""

from __future__ import annotations

import math
import os
import statistics
import time

TAIL = 6  # samples that must lie beyond a reported percentile


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least a
    share ``q`` of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie beyond the nearest-rank ``q``
    percentile."""
    return n - max(1, math.ceil(q * n))


def min_samples(q: float, tail: int = TAIL) -> int:
    """Fewest samples for which ``tail`` of them lie beyond the ``q``
    percentile."""
    n = tail + 1
    while beyond(n, q) < tail:
        n += 1
    return n


def median(values: list[float]) -> float:
    return statistics.median(values)


def proc_table() -> dict[int, tuple[int, str, int]]:
    """pid -> (parent pid, state, CPU clock ticks of the process and of
    the children it has reaped) of every process, from /proc."""
    out = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while we looked
        out[int(pid)] = (
            int(fields[1]), fields[0], sum(int(x) for x in fields[11:15])
        )
    return out


def descendants(root: int, table: dict, skip: set[int] = frozenset()) -> list[int]:
    """``root`` and every process below it in ``table``, by parent pid,
    leaving out the subtrees of ``skip``. Unlike a process group this
    follows children that moved to a group of their own, as Spark's
    Python worker daemon does."""
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _st, _t) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root] if root in table else []
    while todo:
        pid = todo.pop()
        if pid in skip:
            continue
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


class Ledger:
    """Counts ops attempted and failed for ``fail_share``.

    Every op is recorded once, when it ends; cold and warm-up ops count
    like timed ones. An op fails when it raised or its output was
    wrong. A check that runs once per run for a whole class of ops
    (analytics parity is once per qid) fails every op of that class
    through ``fail_class``.
    """

    def __init__(self) -> None:
        self._ops: list[tuple[str, bool]] = []
        self._bad_classes: set[str] = set()
        self.errors: list[str] = []

    def record(self, cls: str, ok: bool, why: str = "") -> None:
        self._ops.append((cls, ok))
        if not ok:
            self.errors.append(f"{cls}: {why}"[:300])

    def fail_class(self, cls: str, why: str) -> None:
        self._bad_classes.add(cls)
        self.errors.append(f"{cls}: {why}"[:300])

    @property
    def attempted(self) -> int:
        return len(self._ops)

    @property
    def failed(self) -> int:
        return sum(
            1 for cls, ok in self._ops if not ok or cls in self._bad_classes
        )

    @property
    def fail_share(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0


class Tracer:
    """In-memory spans around the benchmark's own calls into each layer.

    A span has a name, start, end, parent index and op id. With
    ``enabled`` false, ``span`` does nothing but yield, so the untraced
    code path is the same code.
    """

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: int | None = None

    def span(self, name: str) -> "_Span":
        return _Span(self, name)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_times(self) -> list[float]:
        """Per span: its duration minus the time its children cover."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = []
        for i, s in enumerate(self.spans):
            covered, edge = 0.0, s["start"]
            for a, b in sorted(kids.get(i, [])):
                a, b = max(a, edge), min(b, s["end"])
                if b > a:
                    covered += b - a
                    edge = b
            out.append((s["end"] - s["start"]) - covered)
        return out

    def dump(self) -> list[dict]:
        return [
            dict(s, self_s=st) for s, st in zip(self.spans, self.self_times())
        ]


class _Span:
    __slots__ = ("_t", "_name", "_i")

    def __init__(self, tracer: Tracer, name: str) -> None:
        self._t, self._name, self._i = tracer, name, -1

    def __enter__(self) -> "_Span":
        t = self._t
        if t.enabled:
            self._i = len(t.spans)
            t.spans.append({
                "name": self._name,
                "start": time.perf_counter(),
                "end": None,
                "parent": t._stack[-1] if t._stack else None,
                "op": t.op,
            })
            t._stack.append(self._i)
        return self

    def __exit__(self, *exc) -> None:
        t = self._t
        if self._i >= 0:
            t.spans[self._i]["end"] = time.perf_counter()
            t._stack.pop()
