"""olap: registry queries from `__spark_entry__.queries()`, fully
materialized.

Set-up writes the seeded tables, then runs one untimed pass that collects
every result to pandas; those results are checked against DuckDB running
`oracle_sql()` on the same files after the timed part. Each timed op is
one query: `build` (the callable, which may run guard jobs) then `run` (a
write to Spark's `noop` sink); a traced run gives each its own span and
job group. Every pass runs the whole list in a fresh seeded order.
"""

from __future__ import annotations

import os
import random
import time

from . import checks, datagen

SCALE = 0.01  # 60,000 lineitem rows
# The reference's operator inventory (one or two per family: j, x, a, m, s2) ...
CORE = ["j1_out_neighbors", "j3_callees", "j6_find_paths", "x3_auto_complete",
        "a7_usage_count", "m8_switch_commit_derived", "s2_cfamily_analyzer"]
# ... and queries whose time goes to in-process numpy/C kernels and memos.
KERNELS = ["graph_hits", "graph_wcc_bounded", "graph_pagerank", "dedup_clusters",
           "ann_pq_exact", "contamination_bloom"]
QUERIES = CORE + KERNELS
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
N_PASSES = 20
PASS_S = 13.5  # nominal time of a pass on a 4-core host: one per 20 s run


def generate(seed: int, out_dir: str) -> list[list[str]]:
    """Writes the tables; returns the query order of each pass."""
    datagen.write(seed, SCALE, out_dir)
    rng = random.Random(seed)
    return [rng.sample(QUERIES, len(QUERIES)) for _ in range(N_PASSES)]


def run(ctx) -> None:
    import __spark_entry__ as entry

    sf = os.path.join(ctx.work, "tables")
    passes = generate(ctx.seed, sf)
    qs = entry.queries()
    results = {}
    for name in QUERIES:  # warm pass: its results are the ones checked
        try:
            results[name] = qs[name](ctx.spark, sf).toPandas()
        except Exception as ex:  # a failing query is counted, not fatal
            ctx.log(f"{name}: {ex!r}")

    def one(name: str) -> None:
        ctx.begin_op("build")
        t0 = time.perf_counter()
        try:
            with ctx.span("registry.build"):
                df = qs[name](ctx.spark, sf)
            ctx.phase("run")
            with ctx.span("registry.run"):
                df.write.format("noop").mode("overwrite").save()
        except Exception as ex:  # counted, not fatal
            ctx.log(f"{name}: {ex!r}")
            ctx.tally.record(f"{name} (timed)", False)
            return
        ctx.sample(name, time.perf_counter() - t0)

    ctx.timed_passes([lambda p=p: [one(q) for q in p] for p in passes], PASS_S)

    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    oracles = entry.oracle_sql()
    for name in QUERIES:
        ok = name in results and checks.same_rows(results[name], con.sql(oracles[name]).df())
        ctx.tally.record(name, ok)
    con.close()
