"""Degenerate-corpus robustness for the catalog entries added this round:
the driver corpus is well-populated, so empty tables, single-event users,
and zero-match filters never execute there — but ANSI mode (Spark 4
default) turns latent /0 and negative-slice bugs into mid-job crashes.
Each test materializes a tiny parquet corpus with the production schema
and runs the REAL catalog callable against it."""

from __future__ import annotations

import datetime
import tempfile

import duckdb
import pytest
from pyspark.sql import functions as F

from irio_mapreduce_spark import queries as catalog
from irio_mapreduce_spark.session import scoped_conf
from tests.conftest import compare_with_oracle

_QS = catalog.all_queries()

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)
DOCS_SCHEMA = "doc_id long, text string, lang string, source string"
ORDERS_SCHEMA = (
    "o_orderkey long, o_custkey long, o_orderstatus string, "
    "o_totalprice double, o_orderdate timestamp, o_orderpriority string"
)


def _corpus(spark, events_rows, docs_rows, orders_rows=()):
    d = tempfile.mkdtemp(prefix="degen_corpus_")
    # write µs timestamps like the driver corpus: Spark's default INT96
    # reads back as timestamp[ns] in pyarrow, which would falsely trip
    # read_table's TIMESTAMP(NANOS) conversion path
    with scoped_conf(
        spark, {"spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS"}
    ):
        spark.createDataFrame(events_rows, EVENTS_SCHEMA).write.mode(
            "overwrite"
        ).parquet(f"{d}/events.parquet")
        spark.createDataFrame(docs_rows, DOCS_SCHEMA).write.mode(
            "overwrite"
        ).parquet(f"{d}/documents.parquet")
        spark.createDataFrame(list(orders_rows), ORDERS_SCHEMA).write.mode(
            "overwrite"
        ).parquet(f"{d}/orders.parquet")
    return d


_TS = datetime.datetime(2024, 1, 1, 0, 0, 0)


def test_new_event_entries_on_empty_and_single_event_corpus(spark):
    # empty events
    d = _corpus(spark, [], [])
    assert _QS["events_funnel_conversion"](spark, d).collect()[0].n_view == 0
    assert _QS["events_retention_cohorts"](spark, d).count() == 0
    assert _QS["events_daily_gap_fill"](spark, d).count() == 0
    assert _QS["events_type_change_intervals"](spark, d).count() == 0

    # one user, one event (user_id 0 passes every %-filter); no views at
    # all -> funnel denominator is 0 and the rates must be NULL, not a
    # DIVIDE_BY_ZERO crash
    d1 = _corpus(spark, [(1, _TS, 0, "purchase", 5.0, "{}")], [])
    [f] = _QS["events_funnel_conversion"](spark, d1).collect()
    assert (f.n_view, f.n_click, f.n_purchase) == (0, 0, 0)
    assert f.click_rate is None and f.purchase_rate is None
    [r] = _QS["events_retention_cohorts"](spark, d1).collect()
    assert (r.week_n, r.n_active, r.retention) == (0, 1, 1.0)
    [g] = _QS["events_daily_gap_fill"](spark, d1).collect()
    assert (g.n, g.is_gap) == (1, False) and g.avg_value_ffill == 5.0
    [c] = _QS["events_type_change_intervals"](spark, d1).collect()
    assert c.valid_to.startswith("9999") and c.change_seq == 1


def test_tfidf_and_priority_sample_on_empty_and_tiny_docs(spark):
    d = _corpus(spark, [], [])
    assert _QS["text_tfidf_top_terms"](spark, d).count() == 0

    # single empty-text doc (doc_id 0 passes %7): tokenization yields no
    # terms; must be 0 rows, not a slice/explode crash
    d1 = _corpus(spark, [], [(0, "   ", "en", "s")])
    assert _QS["text_tfidf_top_terms"](spark, d1).count() == 0

    # one doc, repeated + unique terms: score = tf*N/df with N=1, df=1
    d2 = _corpus(spark, [], [(0, "a a b", "en", "s")])
    got = {r.term: (r.tf, r.df, r.score) for r in _QS["text_tfidf_top_terms"](spark, d2).collect()}
    assert got == {"a": (2, 1, 2.0), "b": (1, 1, 1.0)}


def test_weighted_priority_sample_all_degenerate_weights(spark):
    """A frame whose every weight is unsampleable must return 0 rows."""
    from irio_mapreduce_spark.llm.sampling import weighted_priority_sample

    df = spark.createDataFrame(
        [(1, 0.0), (2, None), (3, -1.0)], "id long, w double"
    )
    assert weighted_priority_sample(df, ["id"], "w", k=5, id_col="id").count() == 0


def test_second_session_entries_on_empty_corpus(spark):
    """Second-session round-5 entries: empty documents must give empty
    heavy-hitter / collocation sets (no /0 on the N=0 threshold, no
    negative slice on empty token arrays), and empty events must give
    zero streaks — not crashes."""
    d = _corpus(spark, [], [])
    assert _QS["text_heavy_hitters"](spark, d).count() == 0
    assert _QS["text_pmi_collocations"](spark, d).count() == 0
    assert _QS["events_activity_streaks"](spark, d).count() == 0

    # single empty-text doc and a single-token doc: no bigrams, no crash
    d1 = _corpus(
        spark,
        [],
        [(1, "", "en", "web"), (2, "solo", "en", "web")],
    )
    assert _QS["text_pmi_collocations"](spark, d1).count() == 0
    # one token total: 1 * 200 > 1 -> "solo" IS above the 1/200 mass bar
    hh = _QS["text_heavy_hitters"](spark, d1).collect()
    assert [(r.item, r.cnt) for r in hh] == [("solo", 1)]


def test_graph_operators_on_empty_and_trivial_graphs(spark):
    """Empty edge lists: the triangle census returns one (0, 0, 0) row
    (aggregate semantics); BFS, multi-source BFS and SSSP return just the
    sources at distance 0."""
    from irio_mapreduce_spark.operators.graph import (
        bfs_hops,
        multi_source_bfs,
        sssp_rounds,
        triangle_count,
    )

    empty = spark.createDataFrame([], "s long, d long")
    row = triangle_count(empty, "s", "d").head()
    assert (row.n_nodes, row.n_edges, row.n_triangles) == (0, 0, 0)

    srcs = spark.createDataFrame([(7,)], "n long")
    out = {
        r.node: r.hops for r in bfs_hops(empty, srcs, "s", "d", "n", 3).collect()
    }
    assert out == {7: 0}

    weighted = spark.createDataFrame([], "s long, d long, w long")
    out = {
        r.node: r.dist
        for r in sssp_rounds(weighted, srcs, "s", "d", "w", "n", 3).collect()
    }
    assert out == {7: 0}
    out = {
        (r.seed, r.node): r.hops
        for r in multi_source_bfs(empty, srcs, "s", "d", "n", 3).collect()
    }
    assert out == {(7, 7): 0}


def test_rfm_segments_on_empty_and_single_customer_orders(spark):
    """``agg_rfm_segments`` bakes the latest order time and the customer
    count from a driver-side ``.first()`` into plan literals: on an empty
    ``orders`` table both are NULL/0, and with one customer every quintile
    has one member. Each case must match the entry's DuckDB oracle."""
    oracle = catalog.all_oracles()["agg_rfm_segments"]

    def check(orders_rows):
        d = _corpus(spark, [], [], orders_rows)
        df = _QS["agg_rfm_segments"](spark, d)
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW orders AS SELECT * FROM "
            f"read_parquet('{d}/orders.parquet/*.parquet')"
        )
        compare_with_oracle(df, con, oracle, name="agg_rfm_segments")
        return df.collect()

    assert check([]) == []
    later = _TS + datetime.timedelta(days=3)
    [r] = check(
        [(1, 7, "O", 10.005, _TS, "1-URGENT"), (2, 7, "F", 2.5, later, "5-LOW")]
    )
    assert (r.r_score, r.f_score, r.m_score, r.n_customers, r.mon_cents) == (
        1, 1, 1, 1, 1251,
    )
