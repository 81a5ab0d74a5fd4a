"""Tests of the benchmark's pure parts (no Spark):

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os

import pytest

import common
import console
import streamgen
import tables
import tracing


# -- the percentile rule --------------------------------------------------------


def test_pctl_needs_ten_samples_beyond():
    with pytest.raises(common.TooFewSamples):
        common.pctl(list(range(999)), 0.99)
    assert common.pctl(list(range(1000)), 0.99) == 989
    with pytest.raises(common.TooFewSamples):
        common.pctl(list(range(199)), 0.95)
    assert common.pctl(list(range(1, 201)), 0.95) == 190


def test_pctl_is_nearest_rank_on_unsorted_input():
    vals = [5.0, 1.0, 4.0, 2.0, 3.0] * 40  # 200 samples
    assert common.pctl(vals, 0.95) == 5.0
    assert common.pctl(vals, 0.5) == 3.0


def test_tail_pctl_takes_the_highest_supported():
    assert common.tail_pctl(list(range(1000)))[0] == "p99"
    assert common.tail_pctl(list(range(999)))[0] == "p95"
    assert common.tail_pctl(list(range(150)))[0] == "p90"
    with pytest.raises(common.TooFewSamples):
        common.tail_pctl(list(range(99)))


# -- seeded inputs ------------------------------------------------------------------


def test_stream_lines_depend_on_the_seed_only():
    a = streamgen.lines(7, 0, 500, 1000, 100)
    assert a == streamgen.lines(7, 0, 500, 1000, 100)
    assert a != streamgen.lines(8, 0, 500, 1000, 100)
    # a tick boundary does not change the text: lines are indexed globally
    assert a[200:300] == streamgen.lines(7, 200, 300, 1000, 100)


def test_probes_sit_at_fixed_positions_with_their_due_time():
    every = streamgen.probe_every(1000, 10)
    raws = streamgen.lines(1, 0, 1000, 1000, every)
    seqs = [streamgen.probe_seq(r) for r in raws]
    assert [s for s in seqs if s is not None] == list(range(10))
    assert seqs[99] == 0 and seqs[98] is None
    # line 99 is due 0.099 s after the first line
    assert streamgen.probe_due(0, 100.0, 1000, every) == pytest.approx(100.099)
    assert streamgen.probe_due(3, 100.0, 1000, every, start_line=200) == \
        pytest.approx(100.0 + (399 - 200) / 1000)
    assert raws[0].startswith("2024-01-01T00:00:00.000+00:00 ")
    assert raws[999].startswith("2024-01-01T00:00:00.999+00:00 ")


def test_probe_every_must_divide_the_rate():
    with pytest.raises(ValueError):
        streamgen.probe_every(1000, 3)


def test_console_script_is_fixed_and_seeded():
    assert console.block(1) == console.block(1)
    assert console.block(1) != console.block(1, seed=console.SCRIPT_SEED + 1)
    assert console.block(1) != console.block(2)
    blk = console.block(2)
    assert [k for k, _ in blk] == list(console.KINDS)
    assert blk[0][1].startswith("create filter c2 as '")
    assert blk[-1][1] == "drop filter c2"


def test_tables_are_seeded(tmp_path):
    import pyarrow.parquet as pq

    a = tables.write_all(3, str(tmp_path / "a"))
    b = tables.write_all(3, str(tmp_path / "b"))
    c = tables.write_all(4, str(tmp_path / "c"))
    for t in ("events", "documents"):
        ta = pq.read_table(os.path.join(a, f"{t}.parquet"))
        assert ta.equals(pq.read_table(os.path.join(b, f"{t}.parquet")))
        assert not ta.equals(pq.read_table(os.path.join(c, f"{t}.parquet")))


def test_tables_have_the_documented_shape():
    import numpy as np

    rng = np.random.default_rng(5)
    ev = tables.events(rng).to_pydict()
    assert len(ev["ts"]) == 100_000
    assert ev["ts"] == sorted(ev["ts"])
    assert 0 <= min(ev["user_id"]) and max(ev["user_id"]) < 1500
    assert 45 < sum(ev["value"]) / len(ev["value"]) < 55  # exponential, mean 50
    docs = tables.documents(rng).to_pydict()
    words = [t.split() for t in docs["text"]]
    marked = [w for w in words if w[-1] == "dup"]
    assert len(marked) == 250
    base = {" ".join(w) for w in words if "dup" not in w}
    # a near-duplicate is another document with `dup` appended
    assert all(" ".join(w[:w.index("dup")]) in base for w in marked)
    assert all(10 <= len([x for x in w if x != "dup"]) <= 100 for w in words)
    assert docs["source"][:3] == ["src0", "src1", "src2"]
    assert docs["n_chars"] == [len(t) for t in docs["text"]]


def test_every_heavy_query_has_an_oracle():
    import batch
    from cloudpelican_lsd_spark import registry

    assert all(q in registry.ORACLES for q in batch.QUERIES)


# -- expected counts and probe accounting ------------------------------------------


def test_expected_counts_follow_the_filter_fast_path():
    raws = [
        "t host12 app: error value=100 id=1",
        "t host3 app: WARN value=5 id=2",
        "t host14 app: click value=200 id=3",
    ]
    filters = (("e", "error"), ("w", "(?i)warn"), ("W", "WARN"),
               ("h", r"host1[0-9]+"), ("n", r"(100|200)"), ("x", "nomatch"))
    got = streamgen.expected_counts(raws, filters, ["error", "warn"])
    assert got == {"e": (1, 1), "w": (1, 1), "W": (1, 1), "h": (2, 1),
                   "n": (2, 1), "x": (0, 0)}


def test_expected_counts_of_a_generated_stream_cover_every_line():
    raws = streamgen.lines(2, 0, 2000, 1000, 100)
    got = streamgen.expected_counts(
        raws, streamgen.FILTERS + (streamgen.PROBE_FILTER,), ["error"])
    # `app: [a-z]+` matches every line but the upper-case `app: WARN` ones
    assert got["f11"][0] == sum("app: WARN" not in r for r in raws) > 1500
    assert got["probe"] == (20, 0)
    assert got["f0"][0] == got["f0"][1]  # every `error` line is an error


def test_probe_accounting():
    assert streamgen.probe_accounting([0, 1, 2], 3) == (0, 0)
    assert streamgen.probe_accounting([0, 2], 3) == (1, 0)
    assert streamgen.probe_accounting([0, 1, 1, 2, 2, 2], 3) == (0, 3)
    assert streamgen.probe_accounting([0, 1, 2, 7], 3) == (0, 1)
    assert streamgen.probe_accounting([], 2) == (2, 0)


# -- the generator process loop and the tracer ------------------------------------


def test_generator_publishes_whole_files_on_schedule(tmp_path):
    import io

    out = io.StringIO()
    s = streamgen.run(1, 1000, 100, 0.05, 4, str(tmp_path), 0, out=out)
    files = sorted(os.listdir(tmp_path))
    assert files == [f"tick{k:06d}.log" for k in range(4)]
    body = (tmp_path / "tick000001.log").read_text().splitlines()
    assert body == streamgen.lines(1, 50, 100, 1000, 100)
    assert s["lines"] == 200 and s["late_ms_max"] < 1000
    assert '"t0"' in out.getvalue().splitlines()[0]


def test_self_time_subtracts_children():
    tr = tracing.Tracer()
    tr.spans = [
        {"id": 1, "name": "a", "parent": None, "rid": None, "start": 0.0, "end": 1.0},
        {"id": 2, "name": "b", "parent": 1, "rid": None, "start": 0.1, "end": 0.4},
        {"id": 3, "name": "b", "parent": 1, "rid": None, "start": 0.3, "end": 0.6},
        {"id": 4, "name": "c", "parent": 2, "rid": None, "start": 0.2, "end": 0.3},
    ]
    got = tr.self_ms()
    assert got["a"] == pytest.approx(500.0)
    assert got["b"] == pytest.approx(500.0)
    assert got["c"] == pytest.approx(100.0)


def test_disabled_tracer_records_nothing():
    tr = tracing.Tracer(enabled=False)
    with tr.span("x"):
        pass
    assert tr.spans == [] and tr.durations_ms("x") == []


def test_span_parent_and_request_id_are_inherited():
    tr = tracing.Tracer()
    with tr.span("outer", rid="r1"):
        with tr.span("inner"):
            pass
    inner, outer = tr.spans
    assert inner["parent"] == outer["id"] and inner["rid"] == "r1"
