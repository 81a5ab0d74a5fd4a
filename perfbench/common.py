"""Pieces every workload shares: the percentile rule, memory, the Spark
session the engine builds, and the run's scratch directory."""

from __future__ import annotations

import math
import os
import shutil
import statistics
import sys
import tempfile
import time

#: every run uses this many local cores, the size of the reference box
CORES = 4

#: a percentile is reported only with at least this many samples beyond it
MIN_BEYOND = 10


_T0 = time.perf_counter()


def log(msg: str) -> None:
    """A progress line on stderr, stamped with seconds since start."""
    print(f"[{time.perf_counter() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


class TooFewSamples(ValueError):
    pass


def pctl(values, q: float) -> float:
    """Nearest-rank ``q``-quantile of ``values`` (0 < q < 1).

    Refuses (``TooFewSamples``) unless at least ``MIN_BEYOND`` samples lie
    beyond it, so a p99 needs 1000 samples and a p95 needs 200: a tail
    figure read off a handful of points is the noise, not the tail."""
    n = len(values)
    if not 0.0 < q < 1.0:
        raise ValueError("q must lie strictly between 0 and 1")
    if n == 0 or math.floor(n * (1.0 - q) + 1e-9) < MIN_BEYOND:
        raise TooFewSamples(
            f"p{q * 100:g} needs {math.ceil(MIN_BEYOND / (1.0 - q) - 1e-9)}"
            f" samples, got {n}"
        )
    rank = max(1, math.ceil(q * n - 1e-9))
    return sorted(values)[rank - 1]


def tail_pctl(values) -> tuple[str, float]:
    """The highest of p99, p95 and p90 that ``values`` support, as
    ``("p99", value)``; refuses below 100 samples."""
    for q, label in ((0.99, "p99"), (0.95, "p95"), (0.90, "p90")):
        try:
            return label, pctl(values, q)
        except TooFewSamples:
            pass
    raise TooFewSamples(f"no tail percentile from {len(values)} samples")


def median(values) -> float:
    return statistics.median(values)


def _status_kb(pid: int | str, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for ln in fh:
                if ln.startswith(key + ":"):
                    return int(ln.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == pid:
            out.append(int(d))
    return out


def descendants() -> list[int]:
    found, todo = [], [os.getpid()]
    while todo:
        for c in _children(todo.pop()):
            todo.append(c)
            found.append(c)
    return found


def jvm_pids() -> list[int]:
    """Java processes descended from this one (the Spark JVM)."""
    out = []
    for p in descendants():
        try:
            with open(f"/proc/{p}/comm") as fh:
                if fh.read().strip() == "java":
                    out.append(p)
        except OSError:
            pass
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def reap(pids, timeout: float = 20.0) -> None:
    """Wait until every pid has ended, killing what outlives ``timeout``."""
    deadline = time.time() + timeout
    while any(_alive(p) for p in pids) and time.time() < deadline:
        time.sleep(0.1)
    for p in pids:
        if _alive(p):
            try:
                os.kill(p, 9)
            except OSError:
                pass
    while any(_alive(p) for p in pids):
        time.sleep(0.1)


def peak_rss_mb() -> float:
    """Peak resident set of this process plus its Spark JVM, in MiB."""
    kb = _status_kb("self", "VmHWM") + sum(
        _status_kb(p, "VmHWM") for p in jvm_pids()
    )
    return kb / 1024.0


class Workdir:
    """The run's scratch tree inside the checkout, wiped on entry and
    exit.  Temp files of Python, Spark and the JVM are pointed here too,
    so a run writes nothing outside the checkout."""

    def __init__(self, root: str) -> None:
        self.root = root

    def __enter__(self) -> "Workdir":
        shutil.rmtree(self.root, ignore_errors=True)
        os.makedirs(self.path("tmp"))
        os.environ["TMPDIR"] = self.path("tmp")
        tempfile.tempdir = None  # gettempdir() caches; read TMPDIR again
        os.environ["SPARK_LOCAL_DIRS"] = self.path("spark-local")
        # -XX:-UsePerfData: no hsperfdata file in the system /tmp, from
        # the Spark JVM or spark-submit's launcher JVM.  The engine appends
        # these to its own driver options; its heap size is left alone.
        os.environ["SPARK_GRAFT_DRIVER_JAVA_OPTS"] = (
            f"-XX:-UsePerfData -Djava.io.tmpdir={self.path('tmp')}"
        )
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        # keep stderr readable: no progress bars between the report lines
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        )
        return self

    def __exit__(self, *exc) -> None:
        shutil.rmtree(self.root, ignore_errors=True)

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)


def start_session():
    """A session exactly as the engine builds it (``session.get_spark``)."""
    from cloudpelican_lsd_spark.session import get_spark

    return get_spark("perfbench", cpus=CORES)

