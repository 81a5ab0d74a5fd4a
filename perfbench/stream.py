"""``stream_tail``: the live-tail product path under open-loop load.

A generator process (``streamgen.py``) writes syslog lines into the
``file_source`` directory at a fixed rate.  ``StreamingEngine`` runs the
twelve standing filters plus one probe filter on its default 1 s
trigger.  Two closed-loop clients poll ``tail(probe, 100)`` and
``stats(probe)`` every 200 ms (the reference CLI's poll), on the same
JVM and cores as the writes.  A probe's latency runs from its
creation time at the generator to the first poll that shows it.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time

import common
import streamgen

RATE = 1000  # lines/s; the README says why not 2,000
PROBES_PER_S = 10  # <= 100 per batch while batches stay under 10 s
TICK_S = 0.2
POLL_S = 0.2
CLIENTS = 2
WARM_LINES = 4000  # published before the query starts: pays JIT and codegen
WARMUP_S = 8.0  # live load discarded while batch sizes settle
VISIBLE_TIMEOUT_S = 30.0
#: the capacity backlog: 24 s of input in 8 files, so the scan uses
#: every core and per-line work weighs against the fixed cost of a batch
BURST_LINES, BURST_FILES = 24_000, 8
#: the run is invalid when the generator publishes a tick this late
GEN_LATE_BOUND_MS = 200.0


class Client(threading.Thread):
    """Poll tail and stats of the probe filter; remember when each probe
    was first seen by each."""

    def __init__(self, eng, probe_id: str, tracer) -> None:
        super().__init__(daemon=True)
        self.eng, self.probe_id, self.tracer = eng, probe_id, tracer
        self.tail_seen: dict[int, float] = {}
        self.stats_seen_count: list[tuple[float, int]] = []
        self.polls = self.errors = 0
        self.tail_ms: list[float] = []
        self.stats_ms: list[float] = []
        self.stop = threading.Event()

    def _tail(self) -> None:
        with self.tracer.span("client.tail"):
            rows = self.eng.tail(self.probe_id, 100).select("_raw").collect()
        now = time.time()
        for r in rows:
            s = streamgen.probe_seq(r[0])
            if s is not None and s not in self.tail_seen:
                self.tail_seen[s] = now

    def _stats(self) -> None:
        from cloudpelican_lsd_spark.operators.stats import METRIC_MATCH

        with self.tracer.span("client.stats"):
            rows = self.eng.stats(self.probe_id).collect()
        n = sum(r["cnt"] for r in rows if r["metric"] == METRIC_MATCH)
        self.stats_seen_count.append((time.time(), n))

    def run(self) -> None:
        while not self.stop.is_set():
            t = time.perf_counter()
            for call, acc in ((self._tail, self.tail_ms),
                              (self._stats, self.stats_ms)):
                s = time.perf_counter()
                try:
                    call()
                except Exception as ex:  # noqa: BLE001 - counted as failed
                    self.errors += 1
                    print(f"poll failed: {ex}", file=sys.stderr)
                acc.append((time.perf_counter() - s) * 1000.0)
                self.polls += 1
            self.stop.wait(max(0.0, POLL_S - (time.perf_counter() - t)))

    def stats_seen(self, seq: int) -> float | None:
        for t, n in self.stats_seen_count:
            if n > seq:
                return t
        return None


def _processed(q) -> int:
    return sum(p["numInputRows"] for p in (json.loads(x.json) for x in q.recentProgress))


def _started(progress: dict) -> float:
    """Wall-clock start of a micro-batch, from its progress record."""
    from datetime import datetime

    return datetime.fromisoformat(
        progress["timestamp"].replace("Z", "+00:00")).timestamp()


def _setup(wd: common.Workdir, tracer):
    """Session start (the JVM launch included), filter catalog, engine."""
    from cloudpelican_lsd_spark.catalog import FilterCatalog
    from cloudpelican_lsd_spark.streaming.pipeline import StreamingEngine

    with tracer.span("session"):
        spark = common.start_session()
    cat = FilterCatalog()
    for name, rx in streamgen.FILTERS + (streamgen.PROBE_FILTER,):
        cat.create(name, rx)
    src = wd.path("in")
    os.makedirs(src)
    eng = StreamingEngine(spark, cat, base_dir=wd.path("state"))
    return spark, cat, eng, src


def run(wd: common.Workdir, seed: int, seconds: int, tracer, traced: bool) -> dict:
    from cloudpelican_lsd_spark.streaming.pipeline import file_source

    every = streamgen.probe_every(RATE, PROBES_PER_S)
    # the warm file is part of the input, so probe numbering and expected
    # counts cover it; live ticks continue the same line sequence
    warm = streamgen.lines(seed, 0, WARM_LINES, RATE, every)

    t = time.perf_counter()
    spark, cat, eng, src = _setup(wd, tracer)
    setup_s = time.perf_counter() - t
    session_ms = tracer.durations_ms("session")
    probe_id = cat.get(streamgen.PROBE_FILTER[0]).id
    if traced:
        hooks = _trace_hooks(spark, eng, tracer)
    streamgen.write_files(src, {"tick_warm.log": warm})
    q = gen = None
    clients: list[Client] = []
    try:
        q = eng.start(file_source(spark, src))
        deadline = time.time() + 120
        while _processed(q) < WARM_LINES:
            if time.time() > deadline:
                raise RuntimeError("warm batch did not finish")
            time.sleep(0.1)
        common.log("warm batch done")
        ticks = int(round((WARMUP_S + seconds) / TICK_S))
        gen = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(__file__), "streamgen.py"),
             "--seed", str(seed), "--rate", str(RATE), "--every", str(every),
             "--tick", str(TICK_S), "--ticks", str(ticks),
             "--start-line", str(WARM_LINES), "--out", src],
            stdout=subprocess.PIPE, text=True,
        )
        t0 = json.loads(gen.stdout.readline())["t0"]
        clients = [Client(eng, probe_id, tracer) for _ in range(CLIENTS)]
        for c in clients:
            c.start()
        win0, win1 = t0 + WARMUP_S, t0 + WARMUP_S + seconds
        time.sleep(max(0.0, win0 - time.time()))
        if traced:
            hooks["exec"].begin()
            hooks["cat"].ms.clear()
            tracer.spans.clear()
            py4j0 = dict(tracer.py4j_by_layer)
        summary = json.loads(gen.stdout.readline())
        gen.wait(timeout=30)
        common.log("generator done")
        written = WARM_LINES + summary["lines"]
        backlog_end = written - _processed(q)

        def due(s):
            return streamgen.probe_due(s, t0, RATE, every, WARM_LINES)

        window = [s for s in range(WARM_LINES // every, written // every)
                  if win0 <= due(s) < win1]
        deadline = time.time() + VISIBLE_TIMEOUT_S
        while time.time() < deadline and not (
            _processed(q) >= written and all(
                all(s in c.tail_seen for s in window)
                and c.stats_seen(window[-1]) is not None for c in clients)
        ):
            time.sleep(0.1)
        if _processed(q) < written:
            raise RuntimeError(f"input not drained {VISIBLE_TIMEOUT_S} s after the load")
        common.log("window probes visible, input drained")
        for c in clients:
            c.stop.set()
        for c in clients:
            c.join(timeout=60)
        if traced:
            hooks["cat"].drain()
            exec_c = hooks["exec"].end()
        progress = [json.loads(x.json) for x in q.recentProgress]
        # capacity: with the readers stopped, one backlog file drained in a
        # large micro-batch.  The open loop's own rate is pinned at RATE,
        # so it cannot show how fast the engine could go.
        live = {p["batchId"] for p in progress}
        per = BURST_LINES // BURST_FILES
        streamgen.write_files(src, {
            f"burst{k}.log": streamgen.lines(
                seed, written + k * per, written + (k + 1) * per, RATE, every)
            for k in range(BURST_FILES)})
        written += BURST_LINES
        deadline = time.time() + VISIBLE_TIMEOUT_S
        while _processed(q) < written:
            if time.time() > deadline:
                raise RuntimeError("backlog burst not drained")
            time.sleep(0.1)
        burst = [p for p in (json.loads(x.json) for x in q.recentProgress)
                 if p["batchId"] not in live and p["numInputRows"]]
        common.log("batches (rows, ms): " + " ".join(
            f"({p['numInputRows']}, {p['durationMs'].get('triggerExecution')})"
            for p in progress + burst if p["numInputRows"]))
        q.stop()
        q = None

        tail_lat = [c.tail_seen[s] - due(s) for c in clients for s in window
                    if s in c.tail_seen]
        stats_lat = []
        for c in clients:
            for s in window:
                t = c.stats_seen(s)
                if t is not None:
                    stats_lat.append(t - due(s))
        unseen = sum(1 for c in clients for s in window if s not in c.tail_seen)

        failures, (lost, dup), checks = _check(eng, cat, seed, written, every)
        common.log("checked")
        polls = sum(c.polls for c in clients)
        poll_errors = sum(c.errors for c in clients)
        late = summary["late_ms_max"]
        valid = late <= GEN_LATE_BOUND_MS
        if not valid:
            print(f"generator slipped {late:.0f} ms > {GEN_LATE_BOUND_MS} ms:"
                  " run invalid", file=sys.stderr)
        report = {
            "tail_visible_p50_s": common.median(tail_lat),
            "stats_visible_p50_s": common.median(stats_lat),
            "probe_samples": len(tail_lat),
            "gen.late_ms_max": late,
            "backlog_lines_end": backlog_end,
        }
        for name, vals in (("tail", tail_lat), ("stats", stats_lat)):
            label, v = common.tail_pctl(vals)
            report[f"{name}_visible_{label}_s"] = v
        out = {
            "correct": valid and not failures and not (lost or dup),
            "attempted": written // every + polls + checks,
            "failed": lost + dup + poll_errors + len(failures),
            "failures": failures,
            "setup_s": setup_s,
            "throughput_per_s": sum(p["numInputRows"] for p in burst) / sum(
                p["durationMs"]["triggerExecution"] / 1000.0 for p in burst),
            "latency_p50_s": report["tail_visible_p50_s"],
            "report": report,
        }
        if traced:
            in_window = [p for p in progress if _started(p) >= win0]
            out["layers"] = _layers(tracer, hooks, exec_c, in_window, clients,
                                    session_ms, py4j0, eng, lost, dup, unseen,
                                    backlog_end, late)
        return out
    finally:
        for c in clients:
            c.stop.set()
        if gen is not None and gen.poll() is None:
            gen.kill()
            gen.wait()
        if q is not None:
            q.stop()
        spark.stop()


def _check(eng, cat, seed, written, every):
    """Per-filter result counts and stats sums against the counts
    recomputed from the seed; each probe exactly once.  Returns
    ``(failures, (probes lost, probes duplicated), checks made)``."""
    from pyspark.sql import functions as F

    from cloudpelican_lsd_spark.functions.parse import ERROR_WORDS
    from cloudpelican_lsd_spark.operators.stats import METRIC_ERROR, METRIC_MATCH

    filters = streamgen.FILTERS + (streamgen.PROBE_FILTER,)
    raws = streamgen.lines(seed, 0, written, RATE, every)
    want = streamgen.expected_counts(raws, filters, ERROR_WORDS)
    got_res = {r[0]: r[1] for r in
               eng.results().groupBy("filter_name").count().collect()}
    by_id = {cat.get(n).id: n for n, _ in filters}
    got_stats = {}
    for r in eng.stats().groupBy("filter_id", "metric").agg(
            F.sum("cnt").alias("n")).collect():
        got_stats[(by_id[r[0]], r[1])] = r[2]
    failures = {}
    for name, _ in filters:
        m, e = want[name]
        if got_res.get(name, 0) != m:
            failures[f"results:{name}"] = (got_res.get(name, 0), m)
        if got_stats.get((name, METRIC_MATCH), 0) != m:
            failures[f"stats_match:{name}"] = (got_stats.get((name, METRIC_MATCH), 0), m)
        if got_stats.get((name, METRIC_ERROR), 0) != e:
            failures[f"stats_error:{name}"] = (got_stats.get((name, METRIC_ERROR), 0), e)
    probe_id = cat.get(streamgen.PROBE_FILTER[0]).id
    seen = [streamgen.probe_seq(r[0]) for r in
            eng.results(probe_id).select("_raw").collect()]
    probes = streamgen.probe_accounting(seen, written // every)
    return failures, probes, 3 * len(filters) + 1


def _trace_hooks(spark, eng, tracer) -> dict:
    from pyspark.sql.readwriter import DataFrameWriter

    import tracing
    from cloudpelican_lsd_spark.operators import fanout

    tracer.wrap(eng, "process_batch", "streaming.pipeline")
    tracer.wrap(eng, "update_classifier_state", "pipeline.classifier")
    tracer.wrap_function(fanout.match_filters_compiled, "operators.fanout",
                         "cloudpelican_lsd_spark")
    parquet = DataFrameWriter.parquet

    def spanned_parquet(self, path, *a, **kw):
        kind = os.path.basename(os.path.normpath(path))
        with tracer.span(f"sink.{kind}"):
            return parquet(self, path, *a, **kw)

    DataFrameWriter.parquet = spanned_parquet
    tracer.count_py4j(spark)
    return {"cat": tracing.CatalystPhases(spark),
            "exec": tracing.ExecCounters(spark)}


def _layers(tracer, hooks, exec_c, progress, clients, session_ms, py4j0,
            eng, lost, dup, unseen, backlog_end, late) -> dict:
    """The streaming-specific per-layer figures (trace file) and the
    shared per-layer vocabulary (contract line)."""
    p50 = common.median
    batches = [p for p in progress if p["numInputRows"]]

    def dur(k: str) -> list[int]:
        return [p["durationMs"].get(k, 0) for p in batches]

    pb = tracer.durations_ms("streaming.pipeline")
    n = max(1, len(pb))
    results_files = sum(len(fs) for _, _, fs in os.walk(eng.results_path))
    state_bytes = sum(os.path.getsize(os.path.join(d, f))
                      for d, _, fs in os.walk(eng.base_dir) for f in fs)
    tail_ms = [x for c in clients for x in c.tail_ms]
    stats_ms = [x for c in clients for x in c.stats_ms]
    py4j = sum(v - py4j0.get(k, 0) for k, v in tracer.py4j_by_layer.items()
               if k in ("streaming.pipeline", "operators.fanout",
                        "pipeline.classifier") or k.startswith("sink."))
    specific = {
        "pipeline.process_batch_ms_p50": p50(pb) if pb else 0.0,
        "pipeline.addBatch_ms_p50": p50(dur("addBatch")),
        "pipeline.batch_ms_p50": p50(dur("triggerExecution")),
        "pipeline.batch_ms_max": max(dur("triggerExecution")),
        "pipeline.rows_per_batch_p50": p50([p["numInputRows"] for p in batches]),
        "pipeline.batches": len(batches),
        "pipeline.classifier_ms_p50": p50(tracer.durations_ms("pipeline.classifier") or [0]),
        "pipeline.results_write_ms_p50": p50(tracer.durations_ms("sink.results") or [0]),
        "pipeline.stats_write_ms_p50": p50(tracer.durations_ms("sink.stats") or [0]),
        "pipeline.latestOffset_ms_p50": p50(dur("latestOffset")),
        "pipeline.queryPlanning_ms_p50": p50(dur("queryPlanning")),
        "pipeline.walCommit_ms_p50": p50(dur("walCommit")),
        "pipeline.commitOffsets_ms_p50": p50(dur("commitOffsets")),
        "pipeline.tail_read_ms_p50": p50(tail_ms),
        "pipeline.tail_reads": len(tail_ms),
        "pipeline.stats_read_ms_p50": p50(stats_ms),
        "pipeline.results_files": results_files,
        "pipeline.state_bytes": state_bytes,
        "pipeline.backlog_lines_end": backlog_end,
        "pipeline.probes_lost": lost,
        "pipeline.probes_dup": dup,
        "pipeline.probes_unseen_by_tail": unseen,
        "fanout.build_ms_p50": p50(tracer.durations_ms("operators.fanout") or [0]),
        "gen.late_ms_max": late,
    }
    try:
        label, v = common.tail_pctl(tail_ms)
        specific[f"pipeline.tail_read_ms_{label}"] = v
    except common.TooFewSamples:
        pass  # under 100 polls: no tail percentile, only the median
    return {
        "specific": specific,
        "session_ms": session_ms,
        "ops": len(pb),
        "op_ms": pb,
        "build_ms": tracer.durations_ms("operators.fanout"),
        "py4j_per_op": py4j / n,
        "catalyst": dict(hooks["cat"].ms),
        "exec": exec_c,
        "materialize_calls": 0,
    }
