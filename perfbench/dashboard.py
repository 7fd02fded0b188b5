"""The ``queries`` layer: one pass over ``bench.py``'s headline queries.

Run in the ``cdc_upsert`` traced run, after its measured window, over
the TPC-H-shaped tables ``gen.write_tables`` builds at sf0.1 row counts.
Each query is first checked against its DuckDB oracle SQL through
``oracle.compare`` (untimed, which also warms it), then run once more
to a ``noop`` sink and timed: ``queries.<name>_s``.
"""

from __future__ import annotations

import os
import time

import gen

#: bench.py's HEADLINE set, in its order
HEADLINE = ["sales_by_country", "sales_by_region", "windowed_sales",
            "latest_event_per_user", "latest_per_window", "top25_formatted",
            "revenue_by_region", "enrich_nullfill", "in_subquery",
            "correlated_subquery", "summary_stats"]
#: the tables the headline queries read
TABLES = ["region", "nation", "customer", "orders", "lineitem", "events"]


def run_oracle(sql: str, sf_dir: str, spill_dir: str):
    """``oracle.run_oracle`` over only the tables generated here, with
    DuckDB's spill directory inside the benchmark's scratch space."""
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{spill_dir}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con.execute(sql).fetchdf()


def query_pass(ctx) -> tuple[dict[str, float], int]:
    """Per-query seconds and the number of queries whose result differs
    from the oracle."""
    from bench import _force

    from kafka_connect_msk_demo_spark import queries
    from kafka_connect_msk_demo_spark.oracle import compare
    sf, spill = ctx.path("sf-dashboard"), ctx.path("duckdb")
    os.makedirs(spill)
    with ctx.tracer.span("gen.tables"):
        gen.write_tables(ctx.seed, sf)
    fns, sqls = queries.queries(), queries.oracles()
    out, wrong = {}, 0
    for name in HEADLINE:
        with ctx.tracer.span("queries.check", query=name):
            wrong += bool(compare(fns[name](ctx.spark, sf),
                                  run_oracle(sqls[name], sf, spill)))
        t0 = time.perf_counter()
        with ctx.tracer.span("queries.run", query=name):
            _force(fns[name](ctx.spark, sf))
        out[f"queries.{name}_s"] = time.perf_counter() - t0
    return out, wrong
