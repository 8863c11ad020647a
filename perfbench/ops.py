"""Operator pass of a traced run: five replayed queries on seeded tables.

The CDC rounds do not reach the ``operators.{dedup,text,similarity,
graph}`` modules or the query replay helpers of ``queries.py``. A
traced run therefore ends, after its measured rounds and final check,
with a pass over five registered queries (``QUERIES``) on tables that
``opsdata.py`` writes from the run's seed. Each query runs once, in
the JVM the rounds have warmed, materialised with ``toPandas()`` inside
its own request span, so the event-log ledger attributes its jobs to
it. A cold run before it would add about 30 s, and on a shared 4-core
host a traced run has taken up to 139 s of the 170 s ``run.py`` allows. Each result is compared, outside the
clock, with the query's registered DuckDB oracle (``ORACLE_SQL``) on
the same parquet files: same row count, same column names, same
values in any row order.
"""

from __future__ import annotations

import math
import os
import time

import opsdata

QUERIES = (
    "dedup_groups",
    "text_inverted_index",
    "knn_pq_topk",
    "graph_triangles_trade",
    "events_stream_rate_limit",
)


def _cell(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return v


def canon(pdf) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name, rows sorted by every column, floats
    compared by ``repr``: the comparison ``tools/check_oracle.py``
    makes between the engine and its oracle."""
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    if len(pdf):
        pdf = pdf.sort_values(by=cols, kind="mergesort").reset_index(drop=True)
    return cols, [tuple(_cell(v) for v in row) for row in pdf.itertuples(index=False)]


def run_pass(run, seed: int) -> None:
    """Run every query of ``QUERIES`` on ``run``'s session and record
    its wall in ``run.samples['op.<query>_s']``."""
    import duckdb

    import changedatacapture_spark.queries as registry

    sf_dir = os.path.join(run.work, "opsdata")
    con = duckdb.connect()
    for t in opsdata.write_tables(sf_dir, seed):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    for name in QUERIES:
        fn = registry.SPARK_QUERIES[name]
        want = canon(con.execute(registry.ORACLE_SQL[name]).df())
        t = time.perf_counter()
        with run.tracer.span(f"request.op.{name}"):
            got = fn(run.spark, sf_dir).toPandas()
        run.samples[f"op.{name}_s"] = [time.perf_counter() - t]
        run.attempted += 1
        got = canon(got)
        if got != want:
            run.failed += 1
            run.errors.append(
                f"op.{name}: {len(got[1])} rows {got[0]}, "
                f"oracle {len(want[1])} rows {want[0]}"
            )
    con.close()
