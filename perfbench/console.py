"""The console half of ``console_batch``: a fixed, seeded command script.

Each command is rendered by ``engine.render_result``, the console's own
renderer.  The script is blocks of

    create filter -> tail -> cat | grep -> select ... where -> stats
    window/rollup -> search -> drop filter

with the regex, stats window and search drawn from pools by a fixed
script seed, so filter writes run beside the reads and every run sends
the same commands; the run's ``--seed`` varies the tables instead.  (A
script drawn anew for each run seed was not steady: the console p50
moved 20% between seeds with the block mix.)
"""

from __future__ import annotations

import random
from collections import Counter

#: filter regexes over the ``logs`` line shape
#: ``2024-01-01T00:00:11 host235 app: error value=2927 id=0``; each
#: means the same in java.util.regex and DuckDB's RE2
REGEX_POOL = (
    "error",
    "(?i)SIGNUP",
    "purchase",
    "host1[0-9][0-9] ",
    "value=[0-9]{5} ",
    "app: (view|click)",
    "id=[0-9]*7$",
    "T0[0-5]:",
)
WINDOWS = (("1d", "1h"), ("3d", "2h"), ("7d", "6h"), ("30d", "1d"))
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
KINDS = ("create", "tail", "cat", "select", "stats", "search", "drop")
SCRIPT_SEED = 1


def block(b: int, seed: int = SCRIPT_SEED) -> list[tuple[str, str]]:
    """Block ``b`` of the script: ``[(kind, command), ...]``."""
    r = random.Random(seed * 7919 + b)
    name = f"c{b}"
    regex = REGEX_POOL[r.randrange(len(REGEX_POOL))]
    window, rollup = WINDOWS[r.randrange(len(WINDOWS))]
    d1, d2 = r.randrange(10), r.randrange(10)
    if r.random() < 0.5:
        search = (
            "search SELECT event_type, count(*) AS n FROM logs WHERE "
            f"user_id % {r.randrange(5, 40)} = {d1} GROUP BY event_type"
        )
    else:
        search = (
            "search SELECT user_id, count(*) AS n FROM logs WHERE "
            f"event_type = '{EVENT_TYPES[r.randrange(5)]}' GROUP BY user_id"
            " ORDER BY n DESC, user_id LIMIT 10"
        )
    cmds = [
        f"create filter {name} as '{regex}'",
        f"tail {name} limit {r.choice((20, 50, 100))}",
        f"cat {name} | grep -v host{r.randrange(10, 100)} "
        f'| grep -e "value=[0-9]*{d1}{d2} "',
        f"select * from {name} where 'id=[0-9]*{d2}{d1}$'",
        f"stats {name} window {window} rollup {rollup}",
        search,
        f"drop filter {name}",
    ]
    return list(zip(KINDS, cmds))


# -- the DuckDB side of the correctness check --------------------------------


def _filter_sql(regex: str) -> str:
    from cloudpelican_lsd_spark.catalog import compile_fast_path

    plain, ci = compile_fast_path(regex)
    if plain is None:
        return "regexp_matches(_raw, '" + regex.replace("'", "''") + "')"
    col = "lower(_raw)" if ci else "_raw"
    return f"contains({col}, '{plain}')"


def oracle_block(sf_dir: str, cmds: list[tuple[str, str]]) -> dict:
    """DuckDB's answer to each read command of one block, over the same
    ``logs`` relation (``sources.tables.LOGS_ORACLE_CTE``): rendered rows
    for tail (in order) and cat/select/search (as a multiset), and the
    (MATCH, ERROR) sums for stats."""
    import duckdb

    from cloudpelican_lsd_spark.functions.durations import parse_duration
    from cloudpelican_lsd_spark.functions.parse import is_likely_error_sql
    from cloudpelican_lsd_spark.operators.grep_pipeline import GrepPipeline
    from cloudpelican_lsd_spark.sources.tables import LOGS_ORACLE_CTE

    con = duckdb.connect()
    con.execute("SET threads = 1")  # runs beside Spark's warm-up
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'")
    regex = cmds[0][1].split(" as ", 1)[1][1:-1]
    base = (f"WITH {LOGS_ORACLE_CTE}, m AS (SELECT * FROM logs WHERE "
            f"{_filter_sql(regex)}) ")

    def rows(sql: str) -> list[tuple[str, ...]]:
        return [tuple(str(v) for v in r) for r in con.sql(base + sql).fetchall()]

    want = {}
    for kind, cmd in cmds:
        if kind == "tail":
            n = int(cmd.rsplit(" ", 1)[1])
            want[cmd] = rows(
                f"SELECT _raw FROM (SELECT * FROM m ORDER BY ts_epoch DESC,"
                f" event_id DESC LIMIT {n}) ORDER BY ts_epoch, event_id")
        elif kind == "cat":
            want[cmd] = Counter(rows(GrepPipeline.parse(cmd).to_duckdb_sql(table="m")))
        elif kind == "select":
            where = cmd.split(" where ", 1)[1][1:-1]
            want[cmd] = Counter(rows(
                f"SELECT _raw FROM m WHERE regexp_matches(_raw, '{where}')"))
        elif kind == "search":
            want[cmd] = Counter(rows(cmd[len("search "):]))
        elif kind == "stats":
            parts = cmd.split()
            w, r = parse_duration(parts[3]), parse_duration(parts[5])
            # MATCH / ERROR sums over the window, re-bucketed like the engine
            # (minutely buckets, then the rollup, anchored at the newest row)
            want[cmd] = tuple(int(x) for x in rows(
                "SELECT count(*), count(*) FILTER (WHERE "
                f"{is_likely_error_sql()}) FROM m, (SELECT max(ts_epoch) AS "
                f"now FROM m) WHERE ((ts_epoch - ts_epoch % 60) - (ts_epoch -"
                f" ts_epoch % 60) % {r}) >= now - {w}")[0])
    return want


def check_block(engine, cmds: list[tuple[str, str]], texts: dict,
                want: dict) -> list[str]:
    """Compare what the console rendered for one block (``texts``) with
    ``want`` (:func:`oracle_block`).  The stats chart is not comparable
    as text, so its series is computed again (filter re-created) and its
    sums compared.  Returns the mismatches found."""
    from cloudpelican_lsd_spark.engine import render_result
    from cloudpelican_lsd_spark.operators.stats import METRIC_ERROR, METRIC_MATCH

    bad: list[str] = []
    for kind, cmd in cmds:
        if kind == "stats":
            render_result(engine, cmds[0][1])  # create the filter again
            sums = Counter()
            for r in engine.execute(cmd).collect():
                sums[r["metric"]] += r["cnt"]
            render_result(engine, cmds[-1][1])
            same = (sums[METRIC_MATCH], sums[METRIC_ERROR]) == want[cmd]
        elif kind in want:
            text = texts[cmd]
            lines = [] if text == "(empty)" else text.split("\n")
            if kind == "tail":  # whole rows, oldest first: compare _raw
                same = [(ln.split("\t")[0],) for ln in lines] == want[cmd]
            else:
                same = Counter(tuple(ln.split("\t")) for ln in lines) == want[cmd]
        else:
            continue  # create / drop: their ok flag is counted as it runs
        if not same:
            bad.append(f"{cmd!r}: differs from the DuckDB oracle")
    return bad
