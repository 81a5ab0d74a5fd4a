"""Traced mode: spans around the calls into each layer, plus Spark's own
counters.  Nothing here runs with ``--trace 0``.

Spans are recorded from the benchmark's side only: the workloads hand
their calls to :meth:`Tracer.span`, and :meth:`Tracer.wrap` /
:meth:`Tracer.wrap_function` put a span around an engine method or
function without changing the engine.  Spans live in memory and are
written as JSON when the run ends.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import sys
import threading
import time
from collections import defaultdict

from common import median


class Tracer:
    """In-memory span store.  A span is ``(name, start, end, parent,
    request id)``; the parent is the innermost open span on the same
    thread, and the request id is inherited from it unless given."""

    def __init__(self, enabled: bool = True) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self.py4j_by_layer: dict[str, int] = defaultdict(int)

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, rid: str | None = None):
        if not self.enabled:  # untraced runs measure the bare calls
            yield None
            return
        st = self._stack()
        parent = st[-1] if st else None
        sp = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "rid": rid if rid is not None else (parent["rid"] if parent else None),
            "start": time.perf_counter(),
        }
        st.append(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            st.pop()
            with self._lock:
                self.spans.append(sp)

    def current_layer(self) -> str:
        st = self._stack()
        return st[-1]["name"] if st else "benchmark"

    def wrap(self, obj, attr: str, name: str) -> None:
        """Shadow ``obj.attr`` with a spanned call (instance or module)."""
        fn = getattr(obj, attr)

        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        setattr(obj, attr, traced)

    def wrap_function(self, fn, name: str, package: str) -> None:
        """Span every call of ``fn`` made through any module of
        ``package`` that imported it by name."""
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith(package):
                for k, v in list(vars(mod).items()):
                    if v is fn:
                        setattr(mod, k, traced)

    def count_py4j(self, spark) -> None:
        """Count py4j round trips, attributed to the open span's layer."""
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command

        def counted(*a, **kw):
            self.py4j_by_layer[self.current_layer()] += 1
            return send(*a, **kw)

        client.send_command = counted

    # -- reading the spans -----------------------------------------------

    def durations_ms(self, name: str) -> list[float]:
        return [(s["end"] - s["start"]) * 1000.0 for s in self.spans
                if s["name"] == name]

    def self_ms(self) -> dict[str, float]:
        """Per layer: span time minus the part covered by child spans."""
        child = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]].append((s["start"], s["end"]))
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            covered, last = 0.0, s["start"]
            for a, b in sorted(child.get(s["id"], ())):
                a, b = max(a, last), min(b, s["end"])
                if b > a:
                    covered += b - a
                    last = b
            out[s["name"]] += (s["end"] - s["start"] - covered) * 1000.0
        return dict(out)

    def dump(self, path: str, extra: dict) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        with open(path, "w") as fh:
            json.dump({
                **extra,
                "self_ms": self.self_ms(),
                "py4j_by_layer": dict(self.py4j_by_layer),
                "spans": [
                    {**s, "start": s["start"] - t0, "end": s["end"] - t0}
                    for s in sorted(self.spans, key=lambda s: s["start"])
                ],
            }, fh)


class CatalystPhases:
    """``QueryExecution.tracker()`` phase times of every query the session
    executes, through a ``QueryExecutionListener`` called back from the
    JVM."""

    PHASES = ("analysis", "optimization", "planning")

    def __init__(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        self.ms: dict[str, float] = defaultdict(float)
        ensure_callback_server_started(spark.sparkContext._gateway)
        spark._jsparkSession.listenerManager().register(self)

    def onSuccess(self, func_name, qe, duration_ns):
        self._record(qe)

    def onFailure(self, func_name, qe, exception):
        self._record(qe)

    def _record(self, qe) -> None:
        phases = qe.tracker().phases()
        for p in self.PHASES:
            opt = phases.get(p)
            if opt.isDefined():
                self.ms[p] += opt.get().durationMs()

    def drain(self) -> None:
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class ExecCounters:
    """Jobs, stages, tasks, executor time, shuffle and spill of the stages
    that completed between :meth:`begin` and :meth:`end`, read from the
    status store (populated with ``spark.ui.enabled=false`` too)."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()

    def _stages(self):
        gw = self.sc._gateway
        seq = self.store.stageList(None, False, False,
                                   gw.new_array(gw.jvm.double, 0), None)
        return [seq.apply(i) for i in range(seq.length())]

    def _jobs(self) -> set[int]:
        seq = self.store.jobsList(None)
        return {seq.apply(i).jobId() for i in range(seq.length())}

    def begin(self) -> None:
        self._jobs0 = self._jobs()
        self._stages0 = {(s.stageId(), s.attemptId()) for s in self._stages()}

    def end(self) -> dict[str, float]:
        gw = self.sc._gateway
        qs = gw.new_array(gw.jvm.double, 2)
        qs[0], qs[1] = 0.5, 1.0
        out = defaultdict(float)
        skews = []
        for s in self._stages():
            key = (s.stageId(), s.attemptId())
            if key in self._stages0 or s.status().toString() != "COMPLETE":
                continue
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks()
            out["executor_run_ms"] += s.executorRunTime()
            out["executor_cpu_ms"] += s.executorCpuTime() / 1e6
            out["shuffle_read_bytes"] += s.shuffleReadBytes()
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            if s.numCompleteTasks() >= 4:
                summ = self.store.taskSummary(key[0], key[1], qs)
                if summ.isDefined():
                    run = summ.get().executorRunTime()
                    if run.apply(0) > 0:
                        skews.append(run.apply(1) / run.apply(0))
        out["jobs"] = len(self._jobs() - self._jobs0)
        out["task_skew"] = median(skews) if skews else 1.0
        return dict(out)
