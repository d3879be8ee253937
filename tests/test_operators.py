"""Operator property tests: the guarantees the DuckDB oracle can't state —
approximation error bounds, retry-stable salting, as-of join atomicity and
tolerance, range-join boundary semantics."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from irio_mapreduce_spark.io import read_table
from irio_mapreduce_spark.session import scoped_conf
from tests.conftest import local_df
from irio_mapreduce_spark.operators.aggregates import salted_agg
from irio_mapreduce_spark.operators.joins import (
    asof_join,
    asof_join_bucketed,
    range_join,
)

SF_DIR = "/root/testdata/sf0.01"


def test_approx_count_distinct_error_bound(spark):
    """HLL++ with rsd=0.02 must land within 5% of exact (2.5 sigma) on
    every group — backs the agg_approx_distinct catalog entry, which has
    no value oracle by design."""
    li = read_table(spark, SF_DIR, "lineitem")
    rows = (
        li.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_orderkey", 0.02).alias("approx"),
            F.countDistinct("l_orderkey").alias("exact"),
        )
        .collect()
    )
    assert rows
    for r in rows:
        assert abs(r.approx - r.exact) / r.exact <= 0.05, r


def test_sketch_suite_error_bounds(spark):
    """DataSketches estimates must track exact values: HLL/theta distinct
    within 3% (tighter than the catalog entry's 5% validation flags), KLL
    median within 2% of exact (k=2048 as in the entry — KLL compaction is
    randomized, so the default k=200 puts the 99%-conf rank error at the
    2% gate and flakes; see agg_sketch_suite), and approx_top_k must
    return the true top
    event types with near-exact counts (5 distinct values fit the sketch
    exactly). Raw estimates are probed directly here; the catalog entry
    (agg_sketch_suite) emits oracle-checkable bounded-error booleans whose
    truth this test's tighter bounds imply."""
    from irio_mapreduce_spark.queries.relational import agg_sketch_suite

    e = read_table(spark, SF_DIR, "events")
    exact_users = e.select("user_id").distinct().count()
    exact_median = e.selectExpr("percentile(value, 0.5)").head()[0]
    exact_types = {
        r.event_type: r.n
        for r in e.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }

    e.createOrReplaceTempView("_sketch_events_test")
    raw = spark.sql(
        """
        SELECT approx_top_k(event_type, 3) AS topk,
               hll_sketch_estimate(hll_sketch_agg(user_id)) AS hll_users,
               theta_sketch_estimate(theta_sketch_agg(user_id)) AS theta_users,
               kll_sketch_get_quantile_double(
                 kll_sketch_agg_double(value, 2048), 0.5) AS kll_median
        FROM _sketch_events_test
        """
    ).head()
    assert abs(raw.hll_users - exact_users) / exact_users <= 0.03
    assert abs(raw.theta_users - exact_users) / exact_users <= 0.03
    assert abs(raw.kll_median - exact_median) / abs(exact_median) <= 0.02
    top = {t["item"]: t["count"] for t in raw.topk}
    true_top3 = dict(sorted(exact_types.items(), key=lambda kv: -kv[1])[:3])
    assert set(top) == set(true_top3)
    for k, n in true_top3.items():
        assert abs(top[k] - n) / n <= 0.01, (k, top[k], n)

    # and the catalog entry's validation flags must all read true
    row = agg_sketch_suite(spark, SF_DIR).head()
    assert row.hll_within_5pct and row.theta_within_5pct
    assert row.kll_median_within_2pct
    assert row.top3_types == ",".join(sorted(true_top3))


def test_percentile_approx_close_to_exact(spark):
    """percentile_approx(accuracy=10000) must track exact percentile within
    0.5% relative error — backs the agg_percentiles_approx entry."""
    li = read_table(spark, SF_DIR, "lineitem")
    rows = (
        li.groupBy("l_returnflag")
        .agg(
            F.expr("percentile_approx(l_extendedprice, 0.5, 10000)").alias("a"),
            F.expr("percentile(l_extendedprice, 0.5)").alias("e"),
        )
        .collect()
    )
    for r in rows:
        assert abs(r.a - r.e) / r.e <= 0.005, r


def test_salted_agg_equals_plain_agg(spark):
    li = read_table(spark, SF_DIR, "lineitem")
    plain = {
        (r.l_returnflag): (round(r.s, 2), r.c)
        for r in li.groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("s"), F.count("*").alias("c"))
        .collect()
    }
    salted = {
        (r.l_returnflag): (round(r.s, 2), r.c)
        for r in salted_agg(
            li,
            ["l_returnflag"],
            [F.sum("l_quantity").alias("ps"), F.count("*").alias("pc")],
            [F.sum("ps").alias("s"), F.sum("pc").alias("c")],
        ).collect()
    }
    assert plain == salted


def _ts(s: str) -> datetime.datetime:
    return datetime.datetime.fromisoformat(s)


def test_asof_join_carries_matched_row_atomically(spark):
    """The round-1 bug class: a right row with a NULL value column must not
    inherit that column from an OLDER right row — the match is one row or
    nothing."""
    left = local_df(spark, 
        [(1, _ts("2024-01-10T00:00:00"))], "k long, lts timestamp"
    )
    right = local_df(spark, 
        [
            (1, _ts("2024-01-01T00:00:00"), "old-a", "old-b"),
            (1, _ts("2024-01-05T00:00:00"), "new-a", None),
        ],
        "k long, rts timestamp, a string, b string",
    )
    out = asof_join(left, right, on="k", left_ts="lts", right_ts="rts").collect()
    assert len(out) == 1
    assert out[0]["a"] == "new-a"
    assert out[0]["b"] is None  # NOT "old-b"


def test_asof_join_tolerance_nulls_stale_matches(spark):
    left = local_df(spark, 
        [(1, _ts("2024-01-10T00:00:00")), (2, _ts("2024-01-10T00:00:00"))],
        "k long, lts timestamp",
    )
    right = local_df(spark, 
        [(1, _ts("2024-01-09T00:00:00"), "fresh"), (2, _ts("2024-01-01T00:00:00"), "stale")],
        "k long, rts timestamp, v string",
    )
    out = {
        r.k: r.v
        for r in asof_join(
            left, right, on="k", left_ts="lts", right_ts="rts", tolerance="3 days"
        ).collect()
    }
    assert out == {1: "fresh", 2: None}


def test_asof_join_no_prior_event_yields_null(spark):
    left = local_df(spark, 
        [(1, _ts("2024-01-01T00:00:00"))], "k long, lts timestamp"
    )
    right = local_df(spark, 
        [(1, _ts("2024-06-01T00:00:00"), "future")], "k long, rts timestamp, v string"
    )
    out = asof_join(left, right, on="k", left_ts="lts", right_ts="rts").collect()
    assert len(out) == 1 and out[0]["v"] is None


def test_asof_bucketed_equals_plain_asof(spark):
    """The skew-safe bucketed variant must produce byte-identical results
    to the plain as-of join across bucket widths — including matches that
    cross many empty buckets (the carry-in path)."""
    ev = (
        read_table(spark, SF_DIR, "events")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("event_id"))
        .withColumnRenamed("user_id", "k")
    )
    orders = (
        read_table(spark, SF_DIR, "orders")
        .filter(F.col("o_orderkey") % 53 == 0)
        .select(F.col("o_custkey").alias("k"), "o_orderkey", "o_orderdate")
    )
    plain = {
        (r.o_orderkey, r.event_id)
        for r in asof_join(
            orders, ev, on="k", left_ts="o_orderdate", right_ts="ts",
            value_cols=["event_id"],
        ).collect()
    }
    for bucket_seconds in (86400.0, 7 * 86400.0, 365 * 86400.0):
        bucketed = {
            (r.o_orderkey, r.event_id)
            for r in asof_join_bucketed(
                orders, ev, on="k", left_ts="o_orderdate", right_ts="ts",
                bucket_seconds=bucket_seconds, value_cols=["event_id"],
            ).collect()
        }
        assert bucketed == plain, bucket_seconds


def test_range_join_boundary_semantics(spark):
    """[lo, hi) by default: the lo endpoint joins, the hi endpoint doesn't,
    and bucketization must not duplicate matches for intervals spanning
    many buckets."""
    points = local_df(spark, [(0.0,), (5.0,), (10.0,), (25.0,)], ["x"])
    bands = local_df(spark, 
        [("lo", 0.0, 10.0), ("hi", 10.0, 30.0)], ["band", "lo", "hi"]
    )
    out = sorted(
        (r.x, r.band)
        for r in range_join(points, bands, "x", "lo", "hi", bucket_width=2.0).collect()
    )
    assert out == [(0.0, "lo"), (5.0, "lo"), (10.0, "hi"), (25.0, "hi")]


def test_observation_metrics_single_pass(spark):
    """Pipeline observability without extra jobs: Observation metrics ride
    on the one action, so stage row-counts / drop-rates come free — at
    100 TB an extra .count() per stage would double the scan bill."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from irio_mapreduce_spark.io import read_table
    from irio_mapreduce_spark.llm.text import quality_features

    docs = quality_features(read_table(spark, SF_DIR, "documents"))
    obs = Observation("quality_stage")
    observed = docs.observe(
        obs,
        F.count(F.lit(1)).alias("n_in"),
        F.sum(
            ((F.col("n_tokens") >= 20) & (F.col("n_tokens") <= 200)
             & (F.col("ttr") >= 0.15)).cast("long")
        ).alias("n_kept"),
    )
    kept = observed.filter(
        (F.col("n_tokens") >= 20) & (F.col("n_tokens") <= 200)
        & (F.col("ttr") >= 0.15)
    ).count()
    m = obs.get
    assert m["n_in"] == docs.count()
    assert m["n_kept"] == kept > 0


def test_explode_outer_empty_array_semantics(spark):
    """explode drops rows with empty arrays; explode_outer keeps one
    null row — the distinction the generator-family docstring pins."""
    from pyspark.sql import functions as F

    df = local_df(spark, 
        [(1, ["a", "b"]), (2, [])], "id long, xs array<string>"
    )
    inner = df.select("id", F.explode("xs").alias("x"))
    outer = df.select("id", F.explode_outer("xs").alias("x"))
    assert {(r.id, r.x) for r in inner.collect()} == {(1, "a"), (1, "b")}
    assert {(r.id, r.x) for r in outer.collect()} == {(1, "a"), (1, "b"), (2, None)}


def test_pagerank_fixed_point_properties(spark):
    """Fixed-point PageRank: on a directed 3-cycle all ranks are equal; on
    a star (hub mirrored to k spokes) the hub out-ranks every spoke; total
    mass is conserved up to floor truncation; and the result is invariant
    under input repartitioning (integer arithmetic has no merge-order
    freedom)."""
    from pyspark.sql import functions as F

    from irio_mapreduce_spark.operators.graph import PAGERANK_SCALE, pagerank

    cycle = local_df(spark, 
        [("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string"
    )
    out = {r.node: r.pr_fp for r in pagerank(cycle, "src", "dst").collect()}
    assert len(set(out.values())) == 1  # symmetric graph -> equal ranks

    spokes = [chr(ord("p") + i) for i in range(5)]
    star_edges = [("hub", s) for s in spokes] + [(s, "hub") for s in spokes]
    star = local_df(spark, star_edges, "src string, dst string")
    ranks = {r.node: r.pr_fp for r in pagerank(star, "src", "dst").collect()}
    assert all(ranks["hub"] > ranks[s] for s in spokes)
    total = sum(ranks.values())
    assert 0 < PAGERANK_SCALE - total < len(ranks) * 600  # floor loss only

    again = {
        r.node: r.pr_fp
        for r in pagerank(star.repartition(7), "src", "dst").collect()
    }
    assert again == ranks

    # personalized over every node: the teleport set is the whole
    # universe, so the ranks are exactly the global ones
    everyone = local_df(spark, [(n,) for n in ranks], "node string")
    personal = {
        r.node: r.pr_fp
        for r in pagerank(
            star, "src", "dst", sources=everyone, source_col="node"
        ).collect()
    }
    assert personal == ranks


def test_merge_upsert_null_safe_and_schema_guard(spark):
    """NULL == NULL counts as unchanged (null-safe comparison); a schema
    mismatch raises instead of silently mis-merging."""
    import pytest

    from pyspark.sql import functions as F

    from irio_mapreduce_spark.operators.merge import merge_upsert

    t = local_df(spark, 
        [(1, None), (2, "x"), (3, "y"), (5, "q")], "k int, v string"
    )
    s = local_df(spark, 
        [(1, None), (2, "x2"), (4, "new"), (5, None)], "k int, v string"
    )
    out = {r.k: (r.v, r.action) for r in merge_upsert(t, s, ["k"]).collect()}
    assert out == {
        1: (None, "unchanged"),
        2: ("x2", "update"),
        3: ("y", "keep"),
        4: ("new", "insert"),
        # source wins INCLUDING a NULL overwrite — coalesce would
        # silently resurrect 'q'
        5: (None, "update"),
    }
    with pytest.raises(ValueError, match="identical schemas"):
        merge_upsert(t, s.select("v", "k"), ["k"])


def test_pagerank_keeps_zero_indegree_nodes(spark):
    """A node with out-edges but no in-edges must stay in the output with
    its teleport share every round (dropping it would delete its outgoing
    mass from later rounds — a real bug caught in review)."""
    from irio_mapreduce_spark.operators.graph import PAGERANK_SCALE, pagerank

    # a -> b, b -> c, c -> b: 'a' has out-degree 1, in-degree 0
    g = local_df(spark, 
        [("a", "b"), ("b", "c"), ("c", "b")], "src string, dst string"
    )
    ranks = {r.node: r.pr_fp for r in pagerank(g, "src", "dst").collect()}
    assert set(ranks) == {"a", "b", "c"}
    teleport = (100 - 85) * PAGERANK_SCALE // (100 * 3)
    assert ranks["a"] == teleport  # nothing points at a
    assert ranks["b"] > ranks["a"] and ranks["c"] > ranks["a"]


def test_merge_upsert_duplicate_key_guard(spark):
    """check_duplicate_keys=True raises mid-job on a duplicated source (or
    target) key — the fan-out SQL MERGE would reject; NULL keys are exempt
    (they never join-match, so they cannot fan out)."""
    import pytest

    from irio_mapreduce_spark.operators.merge import merge_upsert

    t = local_df(spark, [(1, "a"), (2, "b")], "k int, v string")
    s_dup = local_df(spark, [(2, "B"), (2, "B2")], "k int, v string")
    with pytest.raises(Exception, match="duplicate key in source"):
        merge_upsert(t, s_dup, ["k"], check_duplicate_keys=True).collect()
    t_dup = local_df(spark, [(1, "a"), (1, "a2")], "k int, v string")
    s = local_df(spark, [(2, "B")], "k int, v string")
    with pytest.raises(Exception, match="duplicate key in target"):
        merge_upsert(t_dup, s, ["k"], check_duplicate_keys=True).collect()
    # duplicate NULL keys are legal: each is its own insert row
    s_null = local_df(spark, [(None, "x"), (None, "y")], "k int, v string")
    out = merge_upsert(t, s_null, ["k"], check_duplicate_keys=True).collect()
    assert sorted(r.action for r in out) == ["insert", "insert", "keep", "keep"]
    # and the guarded clean path returns the same merge as the unguarded
    s2 = local_df(spark, [(2, "B"), (3, "c")], "k int, v string")
    base = {(r.k, r.v, r.action) for r in merge_upsert(t, s2, ["k"]).collect()}
    guarded = {
        (r.k, r.v, r.action)
        for r in merge_upsert(t, s2, ["k"], check_duplicate_keys=True).collect()
    }
    assert guarded == base


def test_pagerank_dangling_redistribute(spark):
    """dangling='redistribute' handles arbitrary edge lists: sinks (nodes
    with no out-edges) appear in the output, their parked mass is spread
    to every node each round, total mass is conserved up to the
    documented floor-truncation bound, and on a sink-free graph the mode
    is byte-identical to assume_none."""
    from irio_mapreduce_spark.operators.graph import PAGERANK_SCALE, pagerank

    # chain with a sink: a -> b -> c, c emits nothing
    g = local_df(spark, [("a", "b"), ("b", "c")], "src string, dst string")
    ranks = {
        r.node: r.pr_fp
        for r in pagerank(g, "src", "dst", dangling="redistribute").collect()
    }
    assert set(ranks) == {"a", "b", "c"}  # the sink is in the universe
    # downstream accumulates: c > b > a, and everyone holds rank mass
    assert ranks["c"] > ranks["b"] > ranks["a"] > 0
    # mass conservation: loss per round <= edges + 3*nodes units of floor
    # truncation, never a gain
    total = sum(ranks.values())
    n_edges, n_nodes, rounds = 2, 3, 3
    assert 0 <= PAGERANK_SCALE - total <= rounds * (n_edges + 3 * n_nodes)

    # partitioning invariance (exact integer arithmetic)
    again = {
        r.node: r.pr_fp
        for r in pagerank(
            g.repartition(5), "src", "dst", dangling="redistribute"
        ).collect()
    }
    assert again == ranks

    # sink-free graph: redistribute degenerates to assume_none exactly
    cycle = local_df(spark, 
        [("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string"
    )
    base = {r.node: r.pr_fp for r in pagerank(cycle, "src", "dst").collect()}
    redis = {
        r.node: r.pr_fp
        for r in pagerank(cycle, "src", "dst", dangling="redistribute").collect()
    }
    assert redis == base

    import pytest

    with pytest.raises(ValueError, match="dangling"):
        pagerank(g, "src", "dst", dangling="bogus")
    # personalization is defined for the assume_none universe only
    srcs = local_df(spark, [("a",)], "node string")
    with pytest.raises(ValueError, match="dangling"):
        pagerank(
            g, "src", "dst", dangling="redistribute", sources=srcs, source_col="node"
        )


def test_triangle_count_vs_bruteforce(spark):
    """Degree-oriented triangle counting equals the brute-force ordered
    triple enumeration on known graphs (K4=4, C5=0, two sharing a hub) and
    on a seeded random graph; duplicate edges, reversed orientations, and
    self-loops do not change the census."""
    import itertools
    import random

    from irio_mapreduce_spark.operators.graph import triangle_count

    def brute(edge_set):
        und = {tuple(sorted(e)) for e in edge_set if e[0] != e[1]}
        nodes = sorted({n for e in und for n in e})
        tris = sum(
            1
            for a, b, c in itertools.combinations(nodes, 3)
            if (a, b) in und and (b, c) in und and (a, c) in und
        )
        return len(nodes), len(und), tris

    cases = [
        [(i, j) for i, j in itertools.combinations(range(4), 2)],  # K4: 4
        [(i, (i + 1) % 5) for i in range(5)],  # C5: 0
        # bowtie: two triangles sharing node 0
        [(0, 1), (1, 2), (0, 2), (0, 3), (3, 4), (0, 4)],
    ]
    rng = random.Random(7)
    rand = list(
        {
            (rng.randrange(30), rng.randrange(30))
            for _ in range(120)
        }
    )
    # noise: duplicates, reversals, self-loops
    cases.append(rand + [(b, a) for a, b in rand[:20]] + [(5, 5), (2, 2)])
    for edges in cases:
        df = local_df(spark, edges, "s long, d long")
        row = triangle_count(df, "s", "d").head()
        assert (row.n_nodes, row.n_edges, row.n_triangles) == brute(edges)


def test_bfs_hops_vs_bruteforce(spark):
    """The three traversal wrappers of the frontier-relaxation kernel
    equal Python references on a seeded random digraph, for a bounded
    round count that truncates the wave exactly: frontier BFS equals a
    reference BFS (min hop distance, multiple sources), weighted SSSP a
    bounded Bellman-Ford, multi-source BFS a per-seed BFS, and SSSP with
    unit weights equals BFS."""
    import random
    from collections import deque

    from irio_mapreduce_spark.operators.graph import (
        bfs_hops,
        multi_source_bfs,
        sssp_rounds,
    )

    rng = random.Random(11)
    edges = list({(rng.randrange(40), rng.randrange(40)) for _ in range(90)})
    weighted = [(a, b, rng.randint(1, 9)) for a, b in edges]
    srcs = [0, 1, 2]

    def brute(seeds, max_hops):
        adj = {}
        for a, b in edges:
            adj.setdefault(a, []).append(b)
        dist = {s: 0 for s in seeds}
        q = deque(seeds)
        while q:
            u = q.popleft()
            if dist[u] == max_hops:
                continue
            for v in adj.get(u, []):
                if v not in dist:
                    dist[v] = dist[u] + 1
                    q.append(v)
        return dist

    def bellman_ford(rounds):
        # dist after r rounds = min weight over paths of at most r edges
        dist = {s: 0 for s in srcs}
        for _ in range(rounds):
            nxt = dict(dist)
            for a, b, w in weighted:
                if a in dist and dist[a] + w < nxt.get(b, float("inf")):
                    nxt[b] = dist[a] + w
            dist = nxt
        return dist

    e_df = local_df(spark, edges, "s long, d long")
    w_df = local_df(spark, weighted, "s long, d long, w long")
    unit_df = local_df(spark, [(a, b, 1) for a, b in edges], "s long, d long, w long")
    s_df = local_df(spark, [(s,) for s in srcs], "n long")
    for k in (0, 1, 3):
        got = {
            r.node: r.hops
            for r in bfs_hops(e_df, s_df, "s", "d", "n", max_hops=k).collect()
        }
        assert got == brute(srcs, k)

        sssp = {
            r.node: r.dist
            for r in sssp_rounds(w_df, s_df, "s", "d", "w", "n", rounds=k).collect()
        }
        assert sssp == bellman_ford(k)

        unit = {
            r.node: r.dist
            for r in sssp_rounds(unit_df, s_df, "s", "d", "w", "n", rounds=k).collect()
        }
        assert unit == got

        multi = {}
        for r in multi_source_bfs(e_df, s_df, "s", "d", "n", max_hops=k).collect():
            multi.setdefault(r.seed, {})[r.node] = r.hops
        assert multi == {s: brute([s], k) for s in srcs}


def test_frequent_items_exact_and_partitioning_invariant(spark):
    """Misra-Gries sketch-then-verify returns EXACTLY the items above
    N/threshold_den on a Zipf-ish stream, identically under 1, 3, and 11
    input partitions (the sketch varies, the verified output cannot), and
    the too-few-counters configuration is rejected."""
    import pytest

    from irio_mapreduce_spark.operators.aggregates import frequent_items

    # 4 heavy items + a 400-item tail; N = 2000
    data = (
        [("hot%d" % i,) for i in range(4) for _ in range(250)]
        + [("tail%d" % i,) for i in range(400) for _ in range(2)]
        + [(None,)] * 200  # nulls are not items
    )
    df = local_df(spark, data, "tok string")
    n = 2000
    expect = {("hot%d" % i): 250 for i in range(4)}
    for parts in (1, 3, 11):
        out = {
            r.item: r.cnt
            for r in frequent_items(
                df.repartition(parts), "tok", threshold_den=10
            ).collect()
        }
        assert out == expect, parts
    # threshold 10 with only 4 counters cannot guarantee the superset
    with pytest.raises(ValueError, match="mg_counters"):
        frequent_items(df, "tok", threshold_den=10, mg_counters=4)
    # boundary: cnt * den == N is NOT a heavy hitter (strict >)
    edge = local_df(spark, 
        [("a",)] * 10 + [("b%d" % i,) for i in range(90)], "tok string"
    )
    got = {r.item for r in frequent_items(edge, "tok", threshold_den=10).collect()}
    assert got == set()  # 10 * 10 == 100, strict inequality excludes


def test_global_rank_matches_single_reducer_window(spark):
    """Distributed global_rank (range partition + offset numbering) equals
    row_number() over the single-partition window, and ntile_from_rank
    equals SQL NTILE for awkward n/k combinations (n < k, n % k != 0),
    across input partitionings."""
    import random

    from pyspark.sql.window import Window

    from irio_mapreduce_spark.operators.topk import global_rank, ntile_from_rank

    rng = random.Random(13)
    rows = [(rng.randrange(100), i) for i in range(157)]  # dup keys, uniq id
    for parts, n_range in ((1, 4), (5, 3), (13, 8)):
        df = local_df(spark, rows, "v long, id long").repartition(parts)
        w = Window.orderBy("v", "id")
        want = {
            (r.v, r.id): r.rn
            for r in df.withColumn("rn", F.row_number().over(w)).collect()
        }
        got = {
            (r.v, r.id): r.rank
            for r in global_rank(
                df, ["v", "id"], num_partitions=n_range
            ).collect()
        }
        assert got == want

    for n, k in ((157, 8), (5, 8), (24, 6), (1, 3)):
        df = local_df(spark, 
            [(i,) for i in range(n)], "id long"
        )
        w = Window.orderBy("id")
        want = {
            r.id: r.b
            for r in df.withColumn("b", F.ntile(k).over(w)).collect()
        }
        ranked = global_rank(df, ["id"], num_partitions=4)
        got = {
            r.id: r.b
            for r in ranked.withColumn(
                "b", ntile_from_rank(F.col("rank"), F.lit(n).cast("long"), k)
            ).collect()
        }
        assert got == want, (n, k)


def test_zorder_key_reference_and_guards(spark):
    """Morton interleave equals a Python bit-interleave reference on the
    full 16x16 grid; quantize clamps out-of-domain values; guards reject
    one column, key overflow, and inverted domains."""
    import pytest
    from pyspark.sql import functions as F

    from irio_mapreduce_spark.operators.layout import quantize, zorder_key

    grid = [(x, y) for x in range(16) for y in range(16)]
    df = local_df(spark, grid, "x long, y long")
    got = {
        (r.x, r.y): r.zkey
        for r in df.select(
            "x", "y", zorder_key([F.col("x"), F.col("y")], bits=4)
        ).collect()
    }

    def ref(x, y):
        z = 0
        for j in range(4):
            z |= ((x >> j) & 1) << (2 * j)
            z |= ((y >> j) & 1) << (2 * j + 1)
        return z

    assert got == {(x, y): ref(x, y) for x, y in grid}
    # z-curve locality sanity: consecutive keys differ in one quadrant walk
    assert got[(0, 0)] == 0 and got[(1, 0)] == 1 and got[(0, 1)] == 2
    assert got[(15, 15)] == 255

    q = local_df(spark, [(-(10),), (5,), (500,)], "v long").select(
        quantize(F.col("v"), 0, 100, 4).alias("g")
    )
    assert [r.g for r in q.collect()] == [0, 0, 15]  # clamped; 5*15//100=0

    with pytest.raises(ValueError, match=">= 2 columns"):
        zorder_key([F.col("x")], bits=4)
    with pytest.raises(ValueError, match="> 63 key bits"):
        zorder_key([F.col("x")] * 4, bits=16)
    with pytest.raises(ValueError, match="hi > lo"):
        quantize(F.col("x"), 5, 5, 4)


def test_ols_multi_matches_numpy_lstsq(spark):
    """The Cramer-rule closed form agrees with numpy's least-squares
    solution (within float tolerance — numpy is the semantic reference,
    not the bitwise one) on the sf0.001 corpus."""
    import numpy as np

    from irio_mapreduce_spark import queries as catalog

    row = catalog.all_queries()["stats_ols_multi"](
        spark, "/root/testdata/sf0.001"
    ).head()
    import duckdb

    pts = duckdb.sql(
        "SELECT l_quantity q, l_discount d, l_extendedprice p "
        "FROM '/root/testdata/sf0.001/lineitem.parquet'"
    ).df()
    X = np.column_stack(
        [np.ones(len(pts)), pts.q.values, np.round(pts.d.values * 100)]
    )
    y = np.round(pts.p.values * 100)
    beta = np.linalg.lstsq(X, y, rcond=None)[0] / 100
    assert abs(row.intercept - beta[0]) < 1e-6 * max(1, abs(beta[0]))
    assert abs(row.beta_qty - beta[1]) < 1e-6 * max(1, abs(beta[1]))
    assert abs(row.beta_disc - beta[2]) < 1e-6 * max(1, abs(beta[2]))


def test_label_propagation_vs_python_reference(spark):
    """Synchronous LPA with the (count desc, label asc) tie-break equals a
    Python replay on known shapes: two cliques joined by one
    bridge edge, a seeded random mirrored graph, and a directed chain
    whose head has no in-neighbors (label carry-forward). Also invariant
    under repartitioning."""
    import random

    from irio_mapreduce_spark.operators.graph import label_propagation

    def ref(edge_list, iters):
        nodes = sorted({n for e in edge_list for n in e})
        inn = {}
        for a, b in edge_list:
            inn.setdefault(a, []).append(b)  # label flows dst -> src voter
        lab = {n: n for n in nodes}
        for _ in range(iters):
            nxt = {}
            for n in nodes:
                votes = {}
                for m in inn.get(n, []):
                    votes[lab[m]] = votes.get(lab[m], 0) + 1
                if votes:
                    nxt[n] = sorted(votes.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
                else:
                    nxt[n] = lab[n]
            lab = nxt
        return lab

    rng = random.Random(23)

    def mirrored(pairs):
        return pairs + [(b, a) for a, b in pairs]

    cliques = mirrored(
        [(a, b) for a in "abcd" for b in "abcd" if a < b]
        + [(a, b) for a in "wxyz" for b in "wxyz" if a < b]
        + [("d", "w")]
    )
    rand = mirrored(
        list({(f"n{rng.randrange(20)}", f"n{rng.randrange(20)}") for _ in range(40)})
    )
    directed = [("a", "b"), ("b", "c")]  # 'c' has no in-neighbors: carries
    for edge_list, iters in ((cliques, 2), (rand, 3), (directed, 2)):
        edge_list = [e for e in edge_list if e[0] != e[1]]
        df = local_df(spark, edge_list, "s string, d string")
        got = {
            r.node: r.label
            for r in label_propagation(df, "s", "d", iterations=iters).collect()
        }
        assert got == ref(edge_list, iters), (edge_list[:4], iters)
        again = {
            r.node: r.label
            for r in label_propagation(
                df.repartition(7), "s", "d", iterations=iters
            ).collect()
        }
        assert again == got


def test_kcore_peel_vs_python_reference(spark):
    """Bounded peeling equals a Python replay round-for-round on a graph
    built as [clique K6] + [path of 5] + [bridge]: the path peels away in
    rounds, the 5-core clique survives any number of rounds; a
    sufficiently-large round count equals the true k-core."""
    import itertools

    from irio_mapreduce_spark.operators.graph import kcore_peel

    clique = list(itertools.combinations(range(6), 2))
    path = [(10 + i, 11 + i) for i in range(4)]
    edges = clique + path + [(0, 10)]

    def ref(k, rounds):
        cur = {tuple(sorted(e)) for e in edges}
        for _ in range(rounds):
            deg: dict[int, int] = {}
            for x, y in cur:
                deg[x] = deg.get(x, 0) + 1
                deg[y] = deg.get(y, 0) + 1
            keep = {n for n, d in deg.items() if d >= k}
            cur = {e for e in cur if e[0] in keep and e[1] in keep}
        deg = {}
        for x, y in cur:
            deg[x] = deg.get(x, 0) + 1
            deg[y] = deg.get(y, 0) + 1
        return {n: d for n, d in deg.items() if d >= k}

    df = local_df(spark, edges, "s long, d long")
    for k, rounds in ((2, 1), (2, 3), (5, 2), (3, 4)):
        got = {
            r.node: r.degree
            for r in kcore_peel(df, "s", "d", k=k, rounds=rounds).collect()
        }
        assert got == ref(k, rounds), (k, rounds)
    # the 5-core is exactly the K6 clique
    assert set(ref(5, 4)) == set(range(6))


def test_mad_outliers_python_reference(spark):
    """The scaled-integer median/MAD pipeline equals a Python replay on a
    hand-built corpus with known outliers, covering both parities of
    group size."""
    import datetime
    import statistics
    import tempfile

    from irio_mapreduce_spark import queries as catalog

    rows = []
    eid = 0
    ts = datetime.datetime(2024, 1, 1)
    # 'a': 7 values (odd) with one wild outlier; 'b': 6 values (even)
    for t, vals in (
        ("a", [1.00, 1.10, 1.20, 1.30, 1.40, 1.50, 99.99]),
        ("b", [2.00, 2.10, 2.20, 2.30, 2.40, 50.00]),
    ):
        for v in vals:
            eid += 1
            rows.append((eid, ts, eid, t, v, "{}"))
    d = tempfile.mkdtemp(prefix="mad_")
    with scoped_conf(
        spark, {"spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS"}
    ):
        local_df(spark, 
            rows,
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string",
        ).write.mode("overwrite").parquet(f"{d}/events.parquet")
    out = {
        r.event_type: r
        for r in catalog.all_queries()["stats_mad_outliers"](spark, d).collect()
    }
    for t, vals in (("a", [1.0, 1.1, 1.2, 1.3, 1.4, 1.5, 99.99]),
                    ("b", [2.0, 2.1, 2.2, 2.3, 2.4, 50.0])):
        cents = sorted(round(v * 100) for v in vals)
        med = statistics.median(cents)
        devs = sorted(abs(c - med) for c in cents)
        mad = statistics.median(devs)
        n_out = sum(1 for c in cents if abs(c - med) > 3 * mad)
        r = out[t]
        assert r.n == len(vals)
        assert r.med_x2 == int(2 * med)
        assert r.mad_x4 == int(4 * mad)
        assert r.n_outliers == n_out, t
