"""In-memory spans around calls into the package's public functions.

The tracer patches the named functions and methods at runtime (nothing
in the package changes). Each call becomes a span with name, start,
end, parent and run id, and runs under a Spark job group named after
the span, so Spark's task metrics can be attributed to the layer that
launched the job. Spans stay in memory until the run ends.

Parents come from a per-thread stack. Work submitted to a thread pool
(the package's ingest runs two appends from one) inherits the span open
where it was submitted, as OpenTelemetry context propagation would.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError


class Tracer:
    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.enabled = False
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1]["id"] if stack else getattr(self._local, "inherited", None)
        with self._lock:
            sp = {"id": next(self._ids), "name": name, "parent": parent,
                  "run": self.run_id, "start": time.perf_counter(), "end": None, **attrs}
        outer_group = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setLocalProperty("spark.jobGroup.id", name)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", outer_group)
            with self._lock:
                self.spans.append(sp)

    def wrap(self, owner, attr: str, name) -> None:
        """Replace ``owner.attr`` with a traced version. ``name`` is the
        span name, or a function of the call's arguments giving it."""
        orig = getattr(owner, attr)
        naming = name if callable(name) else (lambda *a, **k: name)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(naming(*args, **kwargs)):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def propagate_to_pools(self) -> None:
        """Make work submitted to a ``ThreadPoolExecutor`` a child of the
        span open at the submit."""
        orig = ThreadPoolExecutor.submit
        tracer = self

        def submit(pool, fn, /, *args, **kwargs):
            stack = tracer._stack()
            parent = stack[-1]["id"] if stack else None

            def run(*a, **k):
                tracer._local.inherited = parent
                try:
                    return fn(*a, **k)
                finally:
                    tracer._local.inherited = None

            return orig(pool, run, *args, **kwargs)

        ThreadPoolExecutor.submit = submit
        self._patches.append((ThreadPoolExecutor, "submit", orig))

    def restore(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def durations(self) -> dict[str, list[float]]:
        out: dict[str, list[float]] = defaultdict(list)
        for sp in self.spans:
            out[sp["name"]].append(sp["end"] - sp["start"])
        return out

    def self_time_by_id(self) -> dict[int, float]:
        """Per span id: the span's duration minus the union of its
        children's intervals (clipped to the span)."""
        kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for sp in self.spans:
            if sp["parent"] is not None:
                kids[sp["parent"]].append((sp["start"], sp["end"]))
        out: dict[int, float] = {}
        for sp in self.spans:
            covered, reach = 0.0, sp["start"]
            for a, b in sorted(kids.get(sp["id"], [])):
                a, b = max(a, reach), min(b, sp["end"])
                if b > a:
                    covered += b - a
                    reach = b
            out[sp["id"]] = sp["end"] - sp["start"] - covered
        return out


def spark_by_group(sc) -> dict[str, dict[str, float]]:
    """Job count and CPU/run/GC time and peak execution memory per job
    group, read from the live application status store (the event log,
    parsed by ``shuffle_audit.parse_event_log``, carries the byte
    counters). Times in seconds, memory in bytes."""
    store = sc._jsc.sc().statusStore()
    conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    seen: set[int] = set()
    for job in conv.asJava(store.jobsList(None)):
        group = job.jobGroup()
        if not group.isDefined():
            continue
        agg = out[group.get()]
        agg["jobs"] += 1
        for sid in conv.asJava(job.stageIds()):
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # stage evicted from the status store
                continue
            agg["executor_cpu_s"] += st.executorCpuTime() / 1e9
            agg["executor_run_s"] += st.executorRunTime() / 1e3
            agg["gc_s"] += st.jvmGcTime() / 1e3
            agg["peak_exec_mem"] = max(agg["peak_exec_mem"], float(st.peakExecutionMemory()))
    return {g: dict(v) for g, v in out.items()}
