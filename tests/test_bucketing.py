"""Bucketed-table co-located join: the pre-shuffle scale technique the
brief calls out — write both fact tables bucketed on the join key, and the
join plans with ZERO exchanges (each bucket pair joins in place). At
100 TB this converts the recurring fact-fact shuffle into a one-time
layout cost paid at write."""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from irio_mapreduce_spark.io import read_table
from irio_mapreduce_spark.session import scoped_conf

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture()
def no_broadcast(spark):
    with scoped_conf(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        yield


def test_bucketed_join_has_no_exchange(spark, no_broadcast):
    o = read_table(spark, SF_DIR, "orders").select("o_orderkey", "o_totalprice")
    li = read_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity")
    for t in ("b_orders", "b_lineitem"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable("b_orders")
    li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable("b_lineitem")

    joined = spark.table("b_lineitem").join(
        spark.table("b_orders"), F.col("l_orderkey") == F.col("o_orderkey")
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        joined.explain("simple")
    plan = buf.getvalue()
    # Co-located: both sides scan their buckets; no shuffle anywhere.
    assert "Exchange" not in plan, plan
    assert "SortMergeJoin" in plan, plan

    # And it is still the same join.
    expected = li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).count()
    assert joined.count() == expected
    for t in ("b_orders", "b_lineitem"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_ensure_bucketed_table_rebuilds_torn_write(spark, tmp_path):
    """A directory without Spark's _SUCCESS marker is a TORN write: the
    helper must rebuild it (never DDL-register partial files), and a
    committed directory must re-register via DDL in a catalog that has
    forgotten the table — both paths returning identical rows."""
    import os

    from pyspark.sql import functions as F

    from irio_mapreduce_spark.operators.layout import ensure_bucketed_table

    path = str(tmp_path / "bkt_torn")
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    )
    name = "bkt_torn_test"
    spark.sql(f"DROP TABLE IF EXISTS {name}")

    # plant a torn write: files present, no _SUCCESS
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "part-00000-dead.c000.snappy.parquet"), "wb") as fh:
        fh.write(b"not parquet")
    ensure_bucketed_table(spark, name, path, "k BIGINT, v BIGINT", "k", 4, build_df=df)
    assert os.path.exists(os.path.join(path, "_SUCCESS"))
    assert spark.table(name).count() == 100

    # forgetful catalog: drop the table, keep the committed files
    spark.sql(f"DROP TABLE {name}")
    ensure_bucketed_table(spark, name, path, "k BIGINT, v BIGINT", "k", 4, build_df=df)
    got = sorted((r.k, r.v) for r in spark.table(name).collect())
    assert got == [(i, 3 * i) for i in range(100)]
    spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_compact_small_files_counts_and_identity(spark, tmp_path):
    """Compaction's two claims, pinned on real files: the fragmented
    input's 64 parquet files become the byte-budget-computed handful
    (>= 8x fewer here), and every row survives byte-identically."""
    import glob

    from pyspark.sql import functions as F

    from irio_mapreduce_spark.io import read_table
    from irio_mapreduce_spark.operators.layout import compact_small_files

    frag, out = str(tmp_path / "frag"), str(tmp_path / "out")
    o = read_table(spark, "/root/testdata/sf0.01", "orders").select(
        "o_orderkey", "o_totalprice"
    )
    o.repartition(64).write.parquet(frag)
    n_frag = len(glob.glob(frag + "/*.parquet"))
    assert n_frag == 64
    n_out = compact_small_files(
        spark, frag, out, target_file_bytes=4 * 1024 * 1024
    )
    files_out = glob.glob(out + "/*.parquet")
    assert len(files_out) == n_out
    assert n_out * 8 <= n_frag, (n_out, n_frag)
    a = spark.read.parquet(frag).orderBy("o_orderkey").collect()
    b = spark.read.parquet(out).orderBy("o_orderkey").collect()
    assert a == b
