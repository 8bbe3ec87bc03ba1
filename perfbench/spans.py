"""In-memory spans around calls into the program's public functions.

``Tracer.wrap(module, name, span)`` replaces ``module.name`` with a wrapper
that records one span per call (name, start, end, parent span id). Spans
stay in memory; ``dump`` writes them out when the run ends. Wrapping is done
from the benchmark only, so the program itself is never edited, and nothing
is wrapped on an untraced run.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str):
        return _Span(self, name)

    def wrap(self, module: object, fname: str, span_name: str | None = None,
             classify=None) -> None:
        """Patch ``module.fname``. ``classify(args, kwargs)`` may return a
        span name per call (e.g. by table path) or None to use the default."""
        orig = getattr(module, fname)
        default = span_name or f"{getattr(module, '__name__', module)}.{fname}"

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            name = (classify(args, kwargs) if classify else None) or default
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(module, fname, wrapper)
        self._patched.append((module, fname, orig))

    def unwrap_all(self) -> None:
        for module, fname, orig in reversed(self._patched):
            setattr(module, fname, orig)
        self._patched.clear()

    def record(self, name: str, start: float, end: float, **attrs) -> None:
        """Add a span measured by the caller (no parent)."""
        with self._lock:
            self.spans.append({"id": len(self.spans), "name": name, "parent": None,
                               "start": start, "end": end, **attrs})

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": dict(self.counts)}, f)


class _Span:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.t, self.name = tracer, name

    def __enter__(self):
        stack = self.t._stack()
        with self.t._lock:
            self.id = len(self.t.spans)
            self.rec = {"id": self.id, "name": self.name,
                        "parent": stack[-1] if stack else None,
                        "start": time.perf_counter(), "end": None}
            self.t.spans.append(self.rec)
        stack.append(self.id)
        return self.rec

    def __exit__(self, exc_type, exc, tb):
        self.rec["end"] = time.perf_counter()
        if exc_type is not None:
            self.rec["error"] = exc_type.__name__
        self.t._stack().pop()
        return False


class JobCounter:
    """Jobs, tasks and failed tasks started under one job group, read from
    ``statusTracker`` right after the call. Every call gets its own group
    id: a reused id merges calls, and the tracker forgets jobs beyond
    ``spark.ui.retainedJobs``."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.n = 0

    def new_group(self, label: str) -> str:
        self.n += 1
        gid = f"perfbench-{self.n}-{label}"
        self.sc.setJobGroup(gid, label)
        return gid

    def jobs(self, gid: str) -> tuple[int, int, int]:
        st = self.sc.statusTracker()
        jobs = tasks = failed = 0
        for jid in st.getJobIdsForGroup(gid):
            jobs += 1
            info = st.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                s = st.getStageInfo(sid)
                if s is not None:
                    tasks += s.numTasks
                    failed += s.numFailedTasks
        return jobs, tasks, failed
