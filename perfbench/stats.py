"""Timing summaries and span tracing shared by the workloads.

A timing is reported as its median plus the highest percentile that
still has at least ``MIN_BEYOND`` samples beyond it, with the sample
count. Spans are kept in memory and written out when the run ends; a
span's self time is its duration minus the part of it that its direct
children cover.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

import numpy as np

MIN_BEYOND = 10
TAIL_LADDER = (99.9, 99.0, 90.0, 50.0)


def has_tail(n: int, p: float) -> bool:
    """Whether ``n`` samples leave at least MIN_BEYOND beyond the p-th
    percentile."""
    return n * (100.0 - p) / 100.0 >= MIN_BEYOND - 1e-9


def tail_level(n: int) -> float | None:
    """Highest percentile in TAIL_LADDER with >= MIN_BEYOND of ``n``
    samples above it, or None when even the median has fewer."""
    for p in TAIL_LADDER:
        if has_tail(n, p):
            return p
    return None


def summarize(values) -> dict:
    """{n, p50, tail_pct, tail} of a sample; tail is None when the
    sample is too small for any percentile on the ladder."""
    a = np.asarray(values, dtype=np.float64)
    if a.size == 0:
        return {"n": 0, "p50": None, "tail_pct": None, "tail": None}
    p = tail_level(a.size)
    return {
        "n": int(a.size),
        "p50": float(np.median(a)),
        "tail_pct": p,
        "tail": float(np.percentile(a, p)) if p is not None else None,
    }


def percentile_with_floor(values, p: float) -> float:
    """The p-th percentile, refusing a sample that has fewer than
    MIN_BEYOND values beyond it."""
    a = np.asarray(values, dtype=np.float64)
    if not has_tail(a.size, p):
        raise ValueError(f"{a.size} samples are too few for p{p}")
    return float(np.percentile(a, p))


def rss_mb() -> float:
    """Resident set size of this process now, in MB (Linux)."""
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024.0
    return float("nan")


def covered(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """span id -> duration minus the union of its direct children."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"]) - covered(kids.get(s["id"], []))
        for s in spans
    }


class Tracer:
    """In-memory spans (name, start, end, parent, workload, run id and
    the action that forced the work). A disabled tracer records
    nothing, so untraced runs pay only a context-manager call."""

    def __init__(self, workload: str, run_id: str, enabled: bool):
        self.workload = workload
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, action: str | None = None):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            "action": action,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def patched(self, owner, attr: str, name: str):
        """Route calls to ``owner.attr`` (a module function or a class
        method) through a span named ``name``; restored on exit."""
        orig = getattr(owner, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        try:
            yield
        finally:
            setattr(owner, attr, orig)

    def named(self, name: str, parent_name: str | None = None) -> list[dict]:
        """Finished spans called ``name``, optionally only those whose
        direct parent is called ``parent_name``."""
        by_id = {s["id"]: s for s in self.spans}
        return [
            s for s in self.spans
            if s["name"] == name and s["end"] is not None and (
                parent_name is None
                or (s["parent"] is not None
                    and by_id[s["parent"]]["name"] == parent_name)
            )
        ]

    def durations(self, name: str, parent_name: str | None = None) -> list[float]:
        return [s["end"] - s["start"] for s in self.named(name, parent_name)]

    def self_durations(self, name: str) -> list[float]:
        st = self_times(self.spans)
        return [st[s["id"]] for s in self.named(name)]

    def dump(self, path: str) -> None:
        st = self_times([s for s in self.spans if s["end"] is not None])
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    **s,
                    "workload": self.workload,
                    "run_id": self.run_id,
                    "self": st.get(s["id"]),
                }) + "\n")
