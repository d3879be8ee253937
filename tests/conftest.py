"""Shared pytest fixtures: one SparkSession per test session, DuckDB oracle.

``compare_with_oracle`` replicates the driver's t2 protocol (row count +
schema-name + order-insensitive value comparison), with float tolerance so
tests catch real bugs, not summation-order noise — the catalog's rounding
convention is what makes the driver's exact hash match.
"""

from __future__ import annotations

import datetime
import math
import os

import duckdb
import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: multi-process fault-injection runs (tests/test_chaos.py)"
    )


@pytest.fixture(scope="session")
def spark():
    import tempfile

    from irio_mapreduce_spark.session import get_spark

    s = get_spark(
        app_name="irio_mapreduce_spark-tests",
        # r13 (VERDICT #1 suite wall-clock): 8 shuffle partitions, not the
        # bench session's core count. This host dispatches ~75 tasks/s
        # (13 ms each, measured on a 1024-task no-op job), so every extra
        # near-empty post-shuffle task is pure scheduling: the iterative
        # graph entries alone run dozens of per-round 32-task stages over
        # sf0.01 data that fits in 8. Correctness is partition-count
        # invariant by the repo's own protocol (tools/
        # drive_driver_protocol.py DRIVE_PARTS odd-count sweeps); plan
        # asserts count operators, not partitions. The bench session is
        # untouched — this is test-harness sizing, not engine tuning.
        shuffle_partitions=8,
        extra_conf={
            # bucketed-table tests saveAsTable; keep the warehouse out of
            # the repo tree
            "spark.sql.warehouse.dir": tempfile.mkdtemp(prefix="spark_wh_")
        },
    )
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def _norm(v):
    """Normalize a cell for order-insensitive comparison."""
    if isinstance(v, float):
        return round(v, 6)
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=1e-6, abs_tol=1e-6)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b


# Physical-plan strings captured as a by-product of the oracle tests
# (which already build every catalog entry at SF_DIR): the full-catalog
# plan sweep in tests/test_plans.py reuses them instead of re-running
# every entry — streaming entries DRAIN during construction, so the
# rebuild cost was ~290 s of the suite (r10 VERDICT wall-clock item).
# Keyed by entry name; only populated when the oracle tests ran first.
# SERIAL-RUN ASSUMPTION (r11 ADVICE.md): the reuse relies on pytest's
# default alphabetical file order (test_oracle.py < test_plans.py) AND
# a single process — under pytest-xdist or randomized ordering each
# worker sees a partial dict and the sweep falls back to rebuilding the
# missing entries itself (correctness unaffected, wall-clock cost
# returns). Do not run the suite with -p xdist expecting the fast path.
RECORDED_PLANS: dict[str, str] = {}

# Constructed-DataFrame cache shared by the two full-catalog
# parametrized sweeps (r13, VERDICT #1 wall-clock): BOTH
# test_conventions::test_query_returns_no_complex_columns and
# test_oracle::test_query_matches_oracle call
# ``_QUERIES[name](spark, SF_DIR)`` for every entry — and for the ~40
# streaming entries CONSTRUCTION DRAINS THE STREAM (3-10 s each), while
# expression-heavy batch entries pay seconds of py4j Column
# construction. Building each entry once and handing the (lazy, or
# already-drained) frame to the second consumer removes a full
# construction pass over the catalog (~6-7 min of the driver-killed
# 32-min suite on this host). Entries are deterministic per session and
# SF_DIR is fixed, so the frame is interchangeable across the two
# tests. Same serial-run assumption as RECORDED_PLANS: under xdist or
# reordered execution each test simply constructs its own copy
# (correctness unaffected).
CONSTRUCTED_FRAMES: dict[str, object] = {}


def local_df(spark, rows, schema):
    """Tiny-frame builder for tests: list → pandas → Arrow, so the frame
    is evaluated JVM-side. ``spark.createDataFrame(list)`` parallelizes
    pickled rows into a PythonRDD whose EVERY evaluation round-trips
    through Python workers (the cartesian task re-evaluates both sides'
    PythonRDDs). A 5-row crossJoin measured 13.5 s vs 0.3 s for the
    Arrow-converted frame in r13. Most of that was the fixed cost of each
    Python task, which preload_daemon.py has since removed: re-measured
    on a 4-core host at local[4], 2.1-2.3 s with the stock per-task zip
    re-read, 0.7-0.8 s without it, 0.1 s via Arrow.
    ``schema`` is passed through (string or list of names); rows may be
    tuples or a dict-shaped pandas input."""
    import pandas as pd
    from pyspark.sql import types as T

    if isinstance(schema, str):
        names = [f.split()[0].rstrip(":") for f in schema.split(",")]
        pdf = pd.DataFrame(list(rows), columns=names)
        return spark.createDataFrame(pdf, schema=schema)
    if isinstance(schema, T.StructType):
        pdf = pd.DataFrame(list(rows), columns=schema.fieldNames())
        return spark.createDataFrame(pdf, schema=schema)
    return spark.createDataFrame(
        pd.DataFrame(list(rows), columns=list(schema))
    )


def get_query_frame(name: str, spark):
    """Construct catalog entry ``name`` at SF_DIR once per session and
    cache the resulting DataFrame for the other full-catalog sweep."""
    df = CONSTRUCTED_FRAMES.get(name)
    if df is None:
        from irio_mapreduce_spark import queries as catalog

        df = catalog.all_queries()[name](spark, SF_DIR)
        CONSTRUCTED_FRAMES[name] = df
    return df


def record_plan(name: str, spark_df) -> None:
    """Capture the entry's physical-plan string (what explain('simple')
    prints). Planning is lazily cached on the QueryExecution, so this is
    free next to the collect the caller is about to do."""
    RECORDED_PLANS[name] = (
        spark_df._jdf.queryExecution().simpleString()
    )


def compare_with_oracle(spark_df, duck_con, sql: str, name: str = "query") -> None:
    """Assert the Spark result matches the DuckDB oracle (driver t2 semantics)."""
    spark_cols = sorted(spark_df.columns)
    spark_rows = sorted(
        (tuple(_norm(r[c]) for c in spark_cols) for r in spark_df.collect()),
        key=repr,
    )
    rel = duck_con.sql(sql)
    duck_cols_orig = list(rel.columns)
    order = sorted(range(len(duck_cols_orig)), key=lambda i: duck_cols_orig[i])
    duck_cols = [duck_cols_orig[i] for i in order]
    duck_rows = sorted(
        (tuple(_norm(row[i]) for i in order) for row in rel.fetchall()),
        key=repr,
    )
    assert spark_cols == duck_cols, f"{name}: columns {spark_cols} != {duck_cols}"
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} != {len(duck_rows)}"
    )
    mismatches = [
        (s, d) for s, d in zip(spark_rows, duck_rows) if not _close(s, d)
    ]
    assert not mismatches, f"{name}: {len(mismatches)} mismatched rows; first: {mismatches[0]}"
