"""Seeded syslog line source for the streaming workloads.

Two roles:

* a pure, deterministic line model (``lines``) that both the generator
  process and the correctness check use, so the expected per-filter
  counts are recomputed from the seed rather than trusted from the run;
* an open-loop generator process (``python3 streamgen.py ...``) that
  writes the lines into a ``file_source`` directory at a fixed rate, one
  atomically renamed file per tick, whatever the engine does.

Line ``i`` is due at ``t0 + i / rate`` on the generator's clock and its
embedded ISO-8601 event time is ``EVENT_BASE + i / rate``, so the line
text depends on the seed alone.  A tick's file holds the lines due in
that tick and is published when the tick ends; ``late_ms`` is how far
behind that due time the rename happened.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import re
import sys
import time
from datetime import datetime, timedelta, timezone

#: event time of line 0 (fixed, so the text never depends on the clock)
EVENT_BASE = datetime(2024, 1, 1, tzinfo=timezone.utc)

#: the twelve standing filters of the streaming throughput tool
#: (tools/stream_bench.py), plus the probe filter
FILTERS = (
    ("f0", "error"),
    ("f1", "checkout"),
    ("f2", "login"),
    ("f3", "payment"),
    ("f4", "timeout"),
    ("f5", "(?i)warn"),
    ("f6", r"value=[0-9]{3}"),
    ("f7", r"host1[0-9]+"),
    ("f8", r"(100|200)"),
    ("f9", "click"),
    ("f10", "view"),
    ("f11", r"app: [a-z]+"),
)
PROBE_FILTER = ("probe", r"probe seq=[0-9]+")

_WORDS = (
    "click", "view", "login", "logout", "checkout", "payment", "search",
    "error", "timeout", "WARN", "cart", "signup",
)
_PROBE_RE = re.compile(r"probe seq=([0-9]+)")


def event_iso(i: int, rate: int) -> str:
    t = EVENT_BASE + timedelta(microseconds=(i * 1_000_000) // rate)
    return t.strftime("%Y-%m-%dT%H:%M:%S.") + f"{t.microsecond // 1000:03d}+00:00"


def probe_every(rate: int, probes_per_s: int) -> int:
    if probes_per_s <= 0 or rate % probes_per_s:
        raise ValueError("probes_per_s must divide the line rate")
    return rate // probes_per_s


def line(seed: int, i: int, rate: int, every: int) -> str:
    """Line ``i`` of the stream for ``seed``; every ``every``-th line is
    probe number ``i // every``."""
    if i % every == every - 1:
        return f"{event_iso(i, rate)} host0 app: probe seq={i // every}"
    r = random.Random(seed * 1_000_003 + i)
    return (
        f"{event_iso(i, rate)} host{r.randrange(200)} app: "
        f"{_WORDS[r.randrange(len(_WORDS))]} value={r.randrange(1000)} "
        f"id={i}"
    )


def lines(seed: int, start: int, stop: int, rate: int, every: int) -> list[str]:
    return [line(seed, i, rate, every) for i in range(start, stop)]


def probe_seq(raw: str) -> int | None:
    m = _PROBE_RE.search(raw)
    return int(m.group(1)) if m else None


def probe_due(seq: int, t0: float, rate: int, every: int,
              start_line: int = 0) -> float:
    """Wall-clock time at which probe ``seq`` was created, for a
    generator whose first line (due at ``t0``) is ``start_line``."""
    return t0 + (seq * every + every - 1 - start_line) / rate


def _matcher(regex: str):
    """The filter semantics the engine implements (catalog fast path):
    a plain word is a substring test, ``(?i)`` lower-cases both sides,
    anything else is a regex ``find``.  The patterns used here mean the
    same in Python's ``re`` and ``java.util.regex``."""
    ci = regex.startswith("(?i)")
    body = regex[4:] if ci else regex
    if re.fullmatch(r"[A-Za-z0-9_-]+", body):
        word = body.lower() if ci else body
        return (lambda s: word in s.lower()) if ci else (lambda s: word in s)
    rx = re.compile(regex)
    return lambda s: rx.search(s) is not None


def expected_counts(
    raws: list[str], filters, error_words
) -> dict[str, tuple[int, int]]:
    """``{filter name: (matches, likely-error matches)}`` over ``raws`` —
    what the results table and the MATCH/ERROR stats sums must hold."""
    ms = [(name, _matcher(rx)) for name, rx in filters]
    out = {name: [0, 0] for name, _ in filters}
    for raw in raws:
        err = any(w in raw.lower() for w in error_words)
        for name, m in ms:
            if m(raw):
                out[name][0] += 1
                out[name][1] += err
    return {k: (v[0], v[1]) for k, v in out.items()}


def probe_accounting(seen: list[int], expected: int) -> tuple[int, int]:
    """``(lost, duplicated)`` for probe sequence numbers ``seen`` against
    probes ``0 .. expected-1``: each must appear exactly once."""
    counts: dict[int, int] = {}
    for s in seen:
        counts[s] = counts.get(s, 0) + 1
    lost = sum(1 for s in range(expected) if s not in counts)
    dup = sum(c - 1 for c in counts.values() if c > 1)
    dup += sum(c for s, c in counts.items() if not 0 <= s < expected)
    return lost, dup


def write_files(out_dir: str, files: dict[str, list[str]]) -> None:
    """Publish files atomically and together: all are written under
    hidden names first, then renamed, so the file source never lists a
    half-written file and sees the set in one listing."""
    for name, body in files.items():
        with open(os.path.join(out_dir, "." + name + ".tmp"), "w") as fh:
            fh.write("\n".join(body) + "\n")
    for name in files:
        os.rename(os.path.join(out_dir, "." + name + ".tmp"),
                  os.path.join(out_dir, name))


def run(seed: int, rate: int, every: int, tick_s: float, ticks: int,
        out_dir: str, start_line: int, out=sys.stdout) -> dict:
    """Open loop: tick ``k`` publishes lines due in ``[k, k+1) * tick_s``
    at ``t0 + (k+1) * tick_s``, never waiting on the consumer."""
    per_tick = round(rate * tick_s)
    if per_tick * 1.0 != rate * tick_s:
        raise ValueError("rate * tick_s must be a whole number of lines")
    t0 = time.time()
    print(json.dumps({"t0": t0}), file=out, flush=True)
    late_max = 0.0
    for k in range(ticks):
        due = t0 + (k + 1) * tick_s
        body = lines(seed, start_line + k * per_tick,
                     start_line + (k + 1) * per_tick, rate, every)
        pause = due - time.time()
        if pause > 0:
            time.sleep(pause)
        write_files(out_dir, {f"tick{k:06d}.log": body})
        late_max = max(late_max, (time.time() - due) * 1000.0)
    summary = {"lines": ticks * per_tick, "late_ms_max": late_max}
    print(json.dumps(summary), file=out, flush=True)
    return summary


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rate", type=int, required=True, help="lines/s")
    ap.add_argument("--every", type=int, required=True, help="probe period")
    ap.add_argument("--tick", type=float, required=True, help="seconds")
    ap.add_argument("--ticks", type=int, required=True)
    ap.add_argument("--start-line", type=int, default=0)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)
    run(a.seed, a.rate, a.every, a.tick, a.ticks, a.out, a.start_line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
