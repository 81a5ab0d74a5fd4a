"""The batch half of ``console_batch``: heavy registry queries.

Each query is built through the registry (``cloudpelican_lsd_spark.
registry.QUERIES``) and run to Spark's ``noop`` sink, so the time is
plan build plus execution with no result transfer.  A pass builds every
query again.
"""

from __future__ import annotations

import time

#: trimmed from the heavy list so that a run stays short: connected
#: components over MinHash-LSH pairs (shuffle-heavy, eager
#: ``checkpoint.materialize`` inside build) and the Python worker boundary
#: (mapInPandas media codecs).  Both have a DuckDB oracle in the registry.
QUERIES = (
    "dedup_clusters",
    "multimodal_features",
)


def one_pass(spark, sf_dir: str, tracer) -> list[tuple[str, float, float]]:
    """``[(query, build seconds, exec seconds), ...]`` for one pass."""
    from cloudpelican_lsd_spark import registry

    out = []
    for name in QUERIES:
        t = time.perf_counter()
        with tracer.span("registry.build", rid=name):
            df = registry.QUERIES[name](spark, sf_dir)
        tb = time.perf_counter()
        with tracer.span("registry.exec", rid=name):
            df.write.format("noop").mode("overwrite").save()
        out.append((name, tb - t, time.perf_counter() - tb))
    return out


def results(spark, sf_dir: str) -> dict:
    """One untimed pass that collects each query's value multiset
    (``tools/parity.py``'s); it is also the warm pass before timing."""
    from cloudpelican_lsd_spark import registry
    from tools.parity import multiset

    out = {}
    for name in QUERIES:
        df = registry.QUERIES[name](spark, sf_dir)
        out[name] = multiset(df.collect(), df.columns)
    return out


def oracles(sf_dir: str) -> dict:
    """DuckDB value multisets of the queries (``tools/parity.py``)."""
    import duckdb

    from cloudpelican_lsd_spark import registry
    from tools.parity import multiset

    con = duckdb.connect()
    con.execute("SET threads = 1")  # runs beside Spark's warm-up
    for t in ("events", "documents"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    out = {}
    for name in QUERIES:
        rel = con.sql(registry.ORACLES[name])
        out[name] = multiset(rel.fetchall(), rel.columns)
    return out


def check(got: dict, want: dict) -> dict[str, str]:
    """Each query's result hash-matches its oracle.  Returns failures."""
    return {
        name: (f"{sum(got[name].values())} rows vs oracle "
               f"{sum(want[name].values())}")
        for name in QUERIES if got[name] != want[name]
    }
