"""Spans recorded from the benchmark's own files, and the Spark event log.

``Tracer.wrap`` replaces a function or method *at the module or class
that the engine's call sites resolve it from* with a wrapper that records
a span: name, start, end, parent span and the id of the operation (query
or batch) it belongs to.  Spans stay in memory until the run ends.  The
package itself is never edited; ``Tracer.restore`` puts every original
back.

A span's self time is its duration minus the part of it its child spans
cover.  Summed over a tree, self times add up to the root's duration.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict


class Span:
    __slots__ = ("name", "start", "end", "parent", "op", "count")

    def __init__(self, name, start, parent, op):
        self.name, self.start, self.end = name, start, start
        self.parent, self.op, self.count = parent, op, None


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self.op = None  # id of the operation being served

    # ------------------------------------------------------------ recording
    def begin(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else -1
        self.spans.append(Span(name, time.perf_counter(), parent, self.op))
        i = len(self.spans) - 1
        self._stack.append(i)
        return i

    def end(self, i: int, count: dict | None = None) -> None:
        s = self.spans[i]
        s.end = time.perf_counter()
        s.count = count
        popped = self._stack.pop()
        if popped != i:
            raise RuntimeError(f"span {s.name} closed out of order")

    def wrap(self, owner, attr: str, name: str, count=None) -> None:
        """Record a span *name* around every call of ``owner.attr``;
        *count(args, kwargs, result)* gives the span's work counts as a
        dict of numbers."""
        orig = vars(owner)[attr]
        tracer = self

        def wrapper(*args, **kwargs):
            i = tracer.begin(name)
            try:
                out = orig(*args, **kwargs)
            except BaseException:
                tracer.end(i)
                raise
            tracer.end(i, count(args, kwargs, out) if count else None)
            return out

        wrapper.__wrapped__ = orig
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    @property
    def active(self) -> bool:
        return bool(self._patches)

    def dump(self, path: str) -> None:
        """Write every span as one JSON line: name, start, end (seconds on
        the perf_counter clock), parent index, operation id, counts."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({"name": s.name, "start": s.start, "end": s.end,
                                    "parent": s.parent, "op": s.op, "count": s.count}) + "\n")

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # ------------------------------------------------------------- analysis
    def by_name(self, roots: set[str] | None = None) -> dict:
        """name -> {calls, self_s, wall_s, counts}, over spans under a
        root whose name is in *roots* (all spans when None)."""
        selft = self_times(self.spans)
        keep = _under(self.spans, roots) if roots else None
        out: dict = defaultdict(
            lambda: {"calls": 0, "self_s": 0.0, "wall_s": 0.0, "counts": defaultdict(float)}
        )
        for i, s in enumerate(self.spans):
            if keep is not None and not keep[i]:
                continue
            a = out[s.name]
            a["calls"] += 1
            a["self_s"] += selft[i]
            a["wall_s"] += s.end - s.start
            for key, v in (s.count or {}).items():
                a["counts"][key] += v
        return dict(out)


def self_times(spans) -> list[float]:
    """Duration of each span minus the union of its children's intervals
    (clipped to the parent's own interval)."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent >= 0:
            kids[s.parent].append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        covered, cur_a, cur_z = 0.0, None, None
        for a, z in sorted(kids.get(i, ())):
            a, z = max(a, s.start), min(z, s.end)
            if z <= a:
                continue
            if cur_z is None or a > cur_z:
                if cur_z is not None:
                    covered += cur_z - cur_a
                cur_a, cur_z = a, z
            else:
                cur_z = max(cur_z, z)
        if cur_z is not None:
            covered += cur_z - cur_a
        out.append((s.end - s.start) - covered)
    return out


def _under(spans, roots: set[str]) -> list[bool]:
    keep = []
    for s in spans:
        p = s.parent
        ok = s.name in roots
        if not ok and p >= 0:
            ok = keep[p]
        keep.append(ok)
    return keep


# ------------------------------------------------------------ Spark event log

def fold_event_log(log_dir: str, windows: list[tuple[str, float, float]]) -> dict:
    """Per-window Spark task totals from the event log(s) in *log_dir*.

    *windows* are (name, start_epoch_s, end_epoch_s); a job belongs to the
    window its submission time falls in, a task to its stage's job.
    Returns name -> {run_s, cpu_s, gc_s, tasks, shuffle_write_bytes}."""
    stage_job: dict[int, int] = {}
    job_window: dict[int, str] = {}
    tasks: list[tuple[int, dict]] = []
    paths = sorted(
        os.path.join(d, n) for d, _, names in os.walk(log_dir) for n in names
        if not n.startswith(".")  # hidden files are checksums
    )
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    t = ev["Submission Time"] / 1000.0
                    for name, a, z in windows:
                        if a <= t <= z:
                            job_window[ev["Job ID"]] = name
                            break
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = ev["Job ID"]
                elif kind == "SparkListenerTaskEnd":
                    tasks.append((ev["Stage ID"], ev.get("Task Metrics") or {}))
    out: dict = defaultdict(
        lambda: {"run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0, "tasks": 0,
                 "shuffle_write_bytes": 0}
    )
    for sid, m in tasks:
        w = job_window.get(stage_job.get(sid, -1))
        if w is None:
            continue
        a = out[w]
        a["run_s"] += m.get("Executor Run Time", 0) / 1000.0
        a["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        a["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
        a["tasks"] += 1
        a["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
    return dict(out)
