"""``console_batch``: one operator session over the 0.1-scale tables.

One client, closed loop: each operation is sent when the previous one
has finished.  The timed region runs blocks of the console script
(create filter, tail, cat | grep, select ... where, stats, search, drop
filter, each rendered by ``engine.render_result``) until ``--seconds``
have passed and at least ``MIN_BLOCKS`` blocks are done, then one pass
over the heavy registry queries, each built and run to the ``noop``
sink.  The console commands are bound by Python plan build, py4j calls,
Catalyst and small-job scheduling; the heavy queries by execution
(shuffles, the Python worker boundary, eager ``checkpoint.materialize``).
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor

import batch
import common
import console

#: fewest timed console blocks in a run (7 commands each)
MIN_BLOCKS = 4


def _oracles(sf_dir: str) -> tuple[dict, dict]:
    return console.oracle_block(sf_dir, console.block(0)), batch.oracles(sf_dir)


def run(sf_dir: str, seconds: int, tracer, traced: bool) -> dict:
    from cloudpelican_lsd_spark.engine import CloudPelicanEngine, render_result
    from cloudpelican_lsd_spark.sources.tables import logs_view

    t = time.perf_counter()
    with tracer.span("session"):
        spark = common.start_session()
    engine = CloudPelicanEngine(spark, logs_view(spark, sf_dir))
    setup_s = time.perf_counter() - t
    session_ms = tracer.durations_ms("session")
    # DuckDB computes the expected answers beside the untimed warm-up
    pool = ThreadPoolExecutor(1)
    want = pool.submit(_oracles, sf_dir)
    try:
        # the untimed warm pass collects the results the check compares
        got = batch.results(spark, sf_dir)
        common.log("warm pass done")
        # a block of another script seed: the console plans and the lazy
        # `logs` view registration of the first search
        for _, cmd in console.block(0, seed=console.SCRIPT_SEED + 1):
            render_result(engine, cmd)
        want_console, want_batch = want.result()
        common.log("warm-up done")
        if traced:
            hooks = _trace_hooks(spark, engine, tracer)
            hooks["exec"].begin()
        blocks: list[list[tuple[str, float]]] = []
        texts: dict[str, str] = {}
        failed = 0
        t0 = time.perf_counter()
        while len(blocks) < MIN_BLOCKS or time.perf_counter() - t0 < seconds:
            b = len(blocks)
            timed = []
            for kind, cmd in console.block(b):
                t = time.perf_counter()
                with tracer.span("engine", rid=f"{b}:{kind}"):
                    text, ok = render_result(engine, cmd)
                timed.append((kind, time.perf_counter() - t))
                failed += not ok
                if b == 0:
                    texts[cmd] = text
            blocks.append(timed)
        t_heavy = time.perf_counter()
        heavy = batch.one_pass(spark, sf_dir, tracer)
        t_end = time.perf_counter()
        elapsed = t_end - t0
        cmds = [c for blk in blocks for c in blk]
        common.log(f"{len(blocks)} timed blocks, {len(cmds)} commands,"
                   f" {len(heavy)} heavy queries")
        if traced:
            hooks["cat"].drain()
            snap = {
                "exec": hooks["exec"].end(),
                "catalyst": dict(hooks["cat"].ms),
                "build": tracer.durations_ms("engine.build"),
                "render": tracer.durations_ms("engine"),
                "materialize": tracer.durations_ms("checkpoint"),
                "py4j": dict(tracer.py4j_by_layer),
                "udf_ms": hooks["udf_ms"](),
            }
        bad = console.check_block(engine, console.block(0), texts,
                                  want_console)
        bad += [f"{k}: {v}" for k, v in batch.check(got, want_batch).items()]
        common.log("checked")

        cmd_s = [s for _, s in cmds]
        block_mean_s = [sum(s for _, s in blk) / len(blk) for blk in blocks]
        report = {
            "console_cmds": len(cmd_s),
            "console_cmds_per_s": len(cmd_s) / (t_heavy - t0),
            "console_cmd_p50_s": common.median(cmd_s),
            "console_block_mean_s": block_mean_s,
            "batch_pass_s": t_end - t_heavy,
        }
        for name, bb, e in heavy:
            report[f"registry.{name}_s"] = bb + e
        out = {
            "correct": not bad and failed == 0,
            "attempted": len(cmds) + len(heavy) + len(console.KINDS) + len(got),
            "failed": failed + len(bad),
            "failures": bad,
            "setup_s": setup_s,
            "throughput_per_s": (len(cmds) + len(heavy)) / elapsed,
            # the median block's mean command time, so every command kind
            # weighs in; the heavy queries weigh in through throughput
            "latency_p50_s": common.median(block_mean_s),
            "report": report,
        }
        if traced:
            out["layers"] = _layers(snap, cmds, heavy, session_ms)
        return out
    finally:
        pool.shutdown()
        spark.stop()


def _trace_hooks(spark, engine, tracer) -> dict:
    import tracing
    from cloudpelican_lsd_spark import checkpoint

    tracer.wrap(engine, "execute", "engine.build")
    tracer.wrap_function(checkpoint.materialize, "checkpoint",
                         "cloudpelican_lsd_spark")
    tracer.count_py4j(spark)
    tracer.spans.clear()
    tracer.py4j_by_layer.clear()
    spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")

    def udf_ms():
        """Python worker time from Spark's UDF profiler, if it reported."""
        results = getattr(spark._profiler_collector, "_perf_profile_results", {})
        if not results:
            return None
        return sum(st.total_tt for st in results.values() if st) * 1000.0

    return {"cat": tracing.CatalystPhases(spark),
            "exec": tracing.ExecCounters(spark), "udf_ms": udf_ms}


def _layers(snap: dict, cmds, heavy, session_ms) -> dict:
    med = common.median
    q_build = [bb * 1000 for _, bb, _ in heavy]
    q_exec = [e * 1000 for _, _, e in heavy]
    ops = len(cmds) + len(q_build)
    py4j = snap["py4j"]
    specific = {
        f"engine.{k}_ms_p50": med([s * 1000 for kk, s in cmds if kk == k])
        for k in ("tail", "cat", "select", "search", "stats")
    }
    specific.update({
        "engine.crud_ms_p50": med(
            [s * 1000 for k, s in cmds if k in ("create", "drop")]),
        "engine.build_ms_p50": med(snap["build"]),
        "engine.collect_ms_p50": med(
            [r - bd for r, bd in zip(snap["render"], snap["build"])]),
        "engine.py4j_calls_per_cmd": (
            py4j.get("engine", 0) + py4j.get("engine.build", 0)) / len(cmds),
        "registry.build_s": sum(q_build) / 1000,
        "registry.exec_s": sum(q_exec) / 1000,
        "registry.py4j_calls": (py4j.get("registry.build", 0)
                                + py4j.get("checkpoint", 0)),
        "checkpoint.materialize_calls": len(snap["materialize"]),
        "checkpoint.materialize_s": sum(snap["materialize"]) / 1000,
    })
    if snap["udf_ms"] is not None:
        specific["pyworker.udf_ms"] = snap["udf_ms"]
    return {
        "specific": specific,
        "session_ms": session_ms,
        "ops": ops,
        "op_ms": [s * 1000 for _, s in cmds] + [b + e for b, e in zip(q_build, q_exec)],
        "build_ms": snap["build"] + q_build,
        "py4j_per_op": sum(py4j.values()) / ops,
        "catalyst": snap["catalyst"],
        "exec": snap["exec"],
        "materialize_calls": len(snap["materialize"]) / ops,
    }
