"""Spans and counters recorded around the benchmark's calls into each
engine layer, plus a memory sampler for the engine's processes.

Trace file format (one JSON object per line, written when the run ends):

    {"trace": <int>, "span": <int>, "parent": <int|null>, "name": <str>,
     "start_ns": <int>, "end_ns": <int>, "ok": <bool>, "attrs": {...}}

``trace`` groups the spans of one operation (one bulk job, one query,
one ingest round); ``parent`` is the span that caused this one.  Times
are ``time.perf_counter_ns`` values, comparable within one file only.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder.  ``enabled=False`` records nothing, so the
    untraced run pays only a no-op context manager per call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.failed: dict[str, int] = {}
        self._stack: list[int] = []
        self._next = 1
        self._trace = 0

    def new_trace(self) -> None:
        self._trace += 1

    @contextmanager
    def span(self, name: str, **attrs):
        """Record ``name`` around the block; an exception counts as a
        failure of the layer (the part of ``name`` before its last dot)
        and propagates."""
        layer = name.rsplit(".", 1)[0]
        if not self.enabled:
            try:
                yield attrs
            except Exception:
                self.failed[layer] = self.failed.get(layer, 0) + 1
                raise
            return
        sid = self._next
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        start = time.perf_counter_ns()
        ok = False
        try:
            yield attrs
            ok = True
        except Exception:
            self.failed[layer] = self.failed.get(layer, 0) + 1
            raise
        finally:
            self._stack.pop()
            self.spans.append({
                "trace": self._trace, "span": sid, "parent": parent,
                "name": name, "start_ns": start,
                "end_ns": time.perf_counter_ns(), "ok": ok, "attrs": attrs,
            })

    def durations(self, name: str) -> list[float]:
        """Seconds spent in each completed ``name`` span."""
        return [(s["end_ns"] - s["start_ns"]) / 1e9 for s in self.spans
                if s["name"] == name and s["ok"]]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def descendants(pid: int | None = None) -> list[int]:
    """Every live process below ``pid`` (default: this process)."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited between listdir and open
        # the field after the parenthesised command name is the state,
        # then the parent pid
        kids.setdefault(int(stat.rsplit(")", 1)[1].split()[1]),
                        []).append(int(name))
    out, todo = [], list(kids.get(os.getpid() if pid is None else pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident memory with each page shared by
    forked workers counted once, split between its sharers."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class MemorySampler:
    """Peak summed PSS of every descendant of this process — the Spark
    driver JVM and the Python workers it forks."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> int:
        return sum(_pss_kb(p) for p in descendants())

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self._sample())
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
