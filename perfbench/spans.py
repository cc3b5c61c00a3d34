"""In-memory span recorder for the traced run.

A span is (name, start, end, parent, request id). The outermost span of a
request is its root; spans opened while it is open become its children,
and every span of one request shares the root's request id. Each request
belongs to the phase that was current when its root opened, so per-layer
figures can be taken over one phase of a workload. Spans are kept in
memory and written as JSON once, at the end of the run.

Self time of a span is its duration minus the part of its interval that
its children cover. Over one request the self times of all its spans add
up to the root's duration, so the root's own self time is the part of the
request that no layer span claims (reported as "unattributed").
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext


class Tracer:
    def __init__(self, clock=time.perf_counter):
        self.clock = clock
        self.names: list[str] = []
        self.starts: list[float] = []
        self.ends: list[float] = []
        self.parents: list[int] = []
        self.rids: list[int] = []
        self.phase_of: dict[int, str] = {}
        self.counts: dict[tuple[str, str], float] = defaultdict(float)
        self.phase = ""
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        i = len(self.names)
        parent = self._stack[-1] if self._stack else -1
        if parent >= 0:
            rid = self.rids[parent]
        else:
            rid = len(self.phase_of)
            self.phase_of[rid] = self.phase
        self.names.append(name)
        self.parents.append(parent)
        self.rids.append(rid)
        self.ends.append(0.0)
        self._stack.append(i)
        self.starts.append(self.clock())
        try:
            yield
        finally:
            self.ends[i] = self.clock()
            self._stack.pop()

    def count(self, name: str, value: float = 1.0) -> None:
        self.counts[(self.phase, name)] += value

    def in_request(self) -> bool:
        return bool(self._stack)

    # ---- derivation -------------------------------------------------------

    def self_times(self) -> list[float]:
        """Duration minus the union of the children's intervals."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for i, p in enumerate(self.parents):
            if p >= 0:
                children[p].append((self.starts[i], self.ends[i]))
        out = []
        for i in range(len(self.names)):
            covered = 0.0
            cur_s = cur_e = None
            for s, e in sorted(children.get(i, ())):
                if cur_e is None or s > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = s, e
                else:
                    cur_e = max(cur_e, e)
            if cur_e is not None:
                covered += cur_e - cur_s
            out.append(self.ends[i] - self.starts[i] - covered)
        return out

    def phase_summary(self, phase: str) -> dict:
        """Over the requests of one phase: request count, total root wall
        time, total self time per span name, span count per name."""
        selfs = self.self_times()
        self_by_name: dict[str, float] = defaultdict(float)
        n_by_name: dict[str, int] = defaultdict(int)
        n_req = 0
        wall = 0.0
        for i, name in enumerate(self.names):
            if self.phase_of[self.rids[i]] != phase:
                continue
            self_by_name[name] += selfs[i]
            n_by_name[name] += 1
            if self.parents[i] < 0:
                n_req += 1
                wall += self.ends[i] - self.starts[i]
        return {
            "requests": n_req,
            "wall": wall,
            "self": dict(self_by_name),
            "spans": dict(n_by_name),
        }

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "fields": ["name", "start", "end", "parent", "rid"],
                    "spans": [
                        [n, s, e, p, r]
                        for n, s, e, p, r in zip(
                            self.names, self.starts, self.ends,
                            self.parents, self.rids,
                        )
                    ],
                    "phase_of_request": self.phase_of,
                    "counts": [[p, n, v] for (p, n), v in self.counts.items()],
                },
                f,
            )


class NullTracer:
    """The untraced run: spans and counts cost one attribute lookup."""

    phase = ""

    def span(self, name: str):
        return nullcontext()

    def count(self, name: str, value: float = 1.0) -> None:
        pass


def span_cost(n: int = 20000) -> float:
    """Measured seconds one recorded span costs (timed over nested pairs)."""
    tr = Tracer()
    t0 = time.perf_counter()
    for _ in range(n):
        with tr.span("a"):
            with tr.span("b"):
                pass
    return (time.perf_counter() - t0) / (2 * n)
