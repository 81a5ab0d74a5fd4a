"""Benchmark entry point: one workload, one run, one JSON line.

    python3 perfbench/run.py --workload stream_tail --seed 1 --seconds 12 --trace 0

Runs from the root of a checkout of the repository.  The human-readable
report goes to stderr; the last line of stdout is
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``) named in
``BENCHMARK.json``.  A traced run also writes its spans to
``.perfbench/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("stream_tail", "console_batch")


def declared() -> tuple[dict[str, str], dict[str, str]]:
    """``(end-to-end, per-layer)`` metric units named in BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def per_layer(out: dict) -> dict[str, float]:
    """The shared per-layer vocabulary from a traced workload's figures."""
    from common import median

    lay = out["layers"]
    ops = max(1, lay["ops"])
    ex = lay["exec"]
    vals = {
        "session.start_ms": median(lay["session_ms"]),
        "op.count": lay["ops"],
        "op.ms_p50": median(lay["op_ms"]),
        "op.build_ms_p50": median(lay["build_ms"]),
        "op.py4j_calls": lay["py4j_per_op"],
        "exec.task_skew": ex.get("task_skew", 1.0),
        "checkpoint.materialize_calls_per_op": lay["materialize_calls"],
        "traced.throughput_per_s": out["throughput_per_s"],
        "traced.latency_p50_s": out["latency_p50_s"],
    }
    for p in ("analysis", "optimization", "planning"):
        vals[f"catalyst.{p}_ms_per_op"] = lay["catalyst"].get(p, 0.0) / ops
    for k in ("jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms",
              "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
        vals[f"exec.{k}_per_op"] = ex.get(k, 0.0) / ops
    return vals


def stop_jvm() -> None:
    """Stop the Spark JVM and every process under it, and wait for them."""
    import common
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if proc is None:
        return
    pids = set(common.descendants())
    proc.terminate()
    try:
        proc.wait(timeout=20)
    except Exception:  # noqa: BLE001 - escalate below
        proc.kill()
        proc.wait()
    common.reap(pids)


def run_workload(a, wd, tracer, traced: bool) -> dict:
    import common
    import tables

    if a.workload == "stream_tail":
        import stream

        return stream.run(wd, a.seed, a.seconds, tracer, traced)
    import console_batch

    sf_dir = tables.write_all(a.seed, wd.path("tables"))
    common.log("inputs generated")
    return console_batch.run(sf_dir, a.seconds, tracer, traced)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    sys.path[:0] = [HERE, ROOT]
    try:
        import cloudpelican_lsd_spark.engine  # noqa: F401
        import tools.parity  # noqa: F401
    except ImportError as ex:
        print(f"perfbench: the engine is not importable here ({ex});"
              " run from the root of a checkout", file=sys.stderr)
        return 2

    import common
    import tracing

    traced = bool(a.trace)
    tracer = tracing.Tracer(enabled=traced)
    os.chdir(ROOT)
    with common.Workdir(os.path.join(ROOT, ".perfbench", "work")) as wd:
        try:
            out = run_workload(a, wd, tracer, traced)
            # reported, not bounded: the JVM grows its heap lazily, so the
            # peak moved by up to 50% between runs of one commit
            out["report"]["peak_rss_mb"] = common.peak_rss_mb()
        finally:
            stop_jvm()
            common.log("stopped")

    end_to_end, layers = declared()
    report = {k: out[k] for k in end_to_end}
    report.update(out["report"])
    print(json.dumps({"workload": a.workload, "seed": a.seed,
                      "failures": out["failures"], "report": report}),
          file=sys.stderr)
    if traced:
        vals = per_layer(out)
        if set(vals) != set(layers):
            raise RuntimeError(f"per-layer metrics {sorted(vals)} do not "
                               "match BENCHMARK.json")
        metrics = {k: {"value": vals[k], "unit": u} for k, u in layers.items()}
        path = os.path.join(ROOT, ".perfbench",
                            f"trace-{a.workload}-{a.seed}.json")
        tracer.dump(path, {"workload": a.workload, "seed": a.seed,
                           "end_to_end": report,
                           "layers": out["layers"]["specific"]})
        print(json.dumps({"layers": out["layers"]["specific"],
                          "self_ms": tracer.self_ms(), "trace": path}),
              file=sys.stderr)
    else:
        metrics = {k: {"value": out[k], "unit": u} for k, u in end_to_end.items()}
    print(json.dumps({
        "correct": bool(out["correct"]),
        "attempted": int(out["attempted"]),
        "failed": int(out["failed"]),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    # a terminated run unwinds like a failed one: the JVM and the
    # generator are stopped in the `finally` blocks on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        code = main()
    except Exception:  # noqa: BLE001 - no result line on a failed run
        traceback.print_exc()
        code = 1
    except SystemExit as ex:
        code = ex.code if isinstance(ex.code, int) else 1
    sys.stdout.flush()
    sys.stderr.flush()
    # py4j and Spark leave non-daemon threads behind; every process this
    # run started has been stopped and reaped above
    os._exit(code)
