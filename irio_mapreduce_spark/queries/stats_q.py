"""Round-10 statistics entries: rank correlation, ANOVA, Kendall tau,
Poisson bootstrap, Theil-Sen — the remaining classical-inference surface
on top of the r1-r9 testing family (Welch t, KS, chi-square,
Mann-Whitney U, permutation test; see queries/relational.py).

Reference parity: the reference computes all statistics as map/reduce
batches over text KV files (`mr-bins/map/map.cpp:16-23`,
`mr-bins/reduce/reduce.cpp:22-29` — per-key integer folds); these entries
re-express the same "distribute moments, finish with scalar math" shape
declaratively so Catalyst keeps every scan pushed down and every
aggregate map-side-partial.

Cross-engine exactness strategy (catalog.py header conventions):

* all data-dependent accumulation is exact BIGINT moments (counts, cent
  sums, doubled midranks, concordance counts) — commutative, partition-
  order-free;
* the FINAL statistic applies a fixed sequence of scalar IEEE ops
  (+ - * / sqrt are correctly rounded in both JVM and libm; no
  transcendentals) on those moments — bit-identical across engines;
* where a sum of per-group RATIONALS is unavoidable (ANOVA's
  Σ s_g²/n_g), both engines fold a list sorted by group key
  sequentially (Spark ``F.aggregate`` over ``array_sort``, DuckDB
  ``list_reduce`` over ``list(.. ORDER BY ..)``) — the same order means
  the same roundings;
* randomness is derandomized via md5 buckets (the Poisson bootstrap uses
  fixed pmf thresholds on a 10^4 hash domain), the trick shared with
  ``stats_permutation_test`` and the sampling family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from irio_mapreduce_spark.io import read_table
from irio_mapreduce_spark.queries.catalog import register
from irio_mapreduce_spark.session import session_memo

# r13 (guide §1.2 "know where time goes"): the md5-derandomized entries
# build hundreds of Column sub-expressions through py4j — phase-splitting
# stats_benjamini_hochberg showed 2.6-3.5 s of pure DRIVER-side
# construction per call vs ~1.5 s of execution. A Column is an immutable
# expression tree resolved against whatever plan it is applied to, so the
# input-independent trees are built ONCE per SparkContext incarnation
# (``session_memo``) and reused. Executed plans are byte-identical.


def _nation_monthly_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(nation, month) order revenue in exact cents — the shared
    bounded series for the grouped trend statistics (Kendall, Theil-Sen):
    the calendar bounds the per-group series length (~7 years -> <=84
    points), so pairwise O(m^2) work inside a group is a constant ~3.5k
    pairs regardless of data scale, and the only shuffle is the
    pre-aggregation to (nation, month)."""
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    return (
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            orders["o_custkey"] == customer["c_custkey"],
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            customer["c_nationkey"] == nation["n_nationkey"],
        )
        .groupBy(
            "n_name",
            # LINEAR month index (year*12 + month), not yyyyMM: slope
            # denominators must step 1 across December->January, or every
            # cross-year pair's Δmonth jumps to 89 and the Theil-Sen
            # median mixes incommensurate slopes (review finding r10)
            (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
            .cast("long")
            .alias("m"),
        )
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )


_NATION_MONTHLY_SQL = """
      SELECT n_name,
             CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
               AS m,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY 1, 2
"""


@register(
    "stats_spearman_rank",
    oracle="""
    WITH daily AS (
      SELECT CAST(count(*) AS BIGINT) AS x,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS y
      FROM orders GROUP BY strftime(o_orderdate, '%Y-%m-%d')),
    ranked AS (
      -- doubled midranks (2*avg tie rank stays integer), as in
      -- stats_mann_whitney_u
      SELECT CAST(2 * rank() OVER (ORDER BY x)
                  + count(*) OVER (PARTITION BY x) - 1 AS BIGINT) AS rx2,
             CAST(2 * rank() OVER (ORDER BY y)
                  + count(*) OVER (PARTITION BY y) - 1 AS BIGINT) AS ry2
      FROM daily),
    mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(rx2) AS BIGINT) AS sx,
             CAST(sum(ry2) AS BIGINT) AS sy,
             CAST(sum(rx2 * ry2) AS BIGINT) AS sxy,
             CAST(sum(rx2 * rx2) AS BIGINT) AS sxx,
             CAST(sum(ry2 * ry2) AS BIGINT) AS syy
      FROM ranked)
    SELECT n,
           CAST(n * sxy - sx * sy AS BIGINT) AS num,
           CAST(n * sxx - sx * sx AS BIGINT) AS den_x,
           CAST(n * syy - sy * sy AS BIGINT) AS den_y,
           CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0
                THEN NULL
                ELSE CAST(n * sxy - sx * sy AS DOUBLE)
                       / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                          * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
           END AS rho
    FROM mom
    """,
)
def stats_spearman_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPEARMAN RANK CORRELATION — the monotone-association measure
    (does a day with more orders also gross more?), exact across engines
    with NO rounding: doubled tie-midranks (``2·rank + ties − 1``, the
    ``stats_mann_whitney_u`` trick) keep every rank integer, all five
    moments accumulate as exact BIGINT, and rho is a fixed sequence of
    correctly-rounded IEEE ops (* − / sqrt) on those moments — so even
    the unrounded DOUBLE hash-matches, like ``stats_ols_price_vs_qty``.
    Scale design: ranks are computed AFTER the day-level pre-aggregation
    (the only wide shuffle; ~2.4k rows out regardless of input scale),
    so the global rank window sorts a bounded frame, never the fact
    table; at 100 TB the pre-agg is the same one shuffle and the window
    cost stays constant."""
    daily = (
        read_table(spark, sf_dir, "orders")
        .groupBy(F.date_format("o_orderdate", "yyyy-MM-dd").alias("d"))
        .agg(
            F.count("*").cast("long").alias("x"),
            F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long"))
            .cast("long")
            .alias("y"),
        )
    )
    ranked = daily.select(
        (
            2 * F.rank().over(Window.orderBy("x")).cast("long")
            + F.count("*").over(Window.partitionBy("x")).cast("long")
            - 1
        ).alias("rx2"),
        (
            2 * F.rank().over(Window.orderBy("y")).cast("long")
            + F.count("*").over(Window.partitionBy("y")).cast("long")
            - 1
        ).alias("ry2"),
    )
    from irio_mapreduce_spark.operators.stats import pearson_exact

    return pearson_exact(
        ranked.select(F.col("rx2").alias("x"), F.col("ry2").alias("y"))
    ).select("n", "num", "den_x", "den_y", F.col("r").alias("rho"))


@register(
    "stats_anova_oneway",
    oracle="""
    WITH grp AS (
      SELECT o_orderpriority AS g,
             CAST(count(*) AS BIGINT) AS n_g,
             CAST(sum(CAST(round(o_totalprice) AS BIGINT)) AS BIGINT) AS s_g,
             CAST(sum(CAST(round(o_totalprice) AS BIGINT)
                      * CAST(round(o_totalprice) AS BIGINT)) AS BIGINT)
               AS ss_g
      FROM orders GROUP BY 1),
    fold AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(n_g) AS BIGINT) AS n,
             CAST(sum(s_g) AS BIGINT) AS s,
             CAST(sum(ss_g) AS BIGINT) AS ss,
             list_reduce(
               list(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE)
                    / CAST(n_g AS DOUBLE) ORDER BY g),
               (a, b) -> a + b) AS ssb_part
      FROM grp),
    dec AS (
      SELECT k, n,
             ssb_part - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                          / CAST(n AS DOUBLE) AS ssb,
             CAST(ss AS DOUBLE) - ssb_part AS ssw
      FROM fold)
    SELECT k, n, ssb, ssw,
           (ssb / CAST(k - 1 AS DOUBLE))
             / (ssw / CAST(n - k AS DOUBLE)) AS f_stat
    FROM dec
    """,
)
def stats_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE-WAY ANOVA — does mean order value differ across the five
    order priorities? F = (SSB/(k−1)) / (SSW/(n−k)) from per-group exact
    BIGINT moments (n_g, Σv, Σv² on whole-dollar values). The one sum
    that is NOT reorder-free — Σ_g s_g²/n_g, a sum of per-group
    rationals — is folded over the groups IN GROUP-KEY ORDER on both
    engines (Spark ``F.aggregate`` over an ``array_sort``-ed
    collect_list, DuckDB ``list_reduce`` over ``list(.. ORDER BY g)``):
    identical operand order means identical IEEE roundings, so the
    unrounded doubles hash-match. Scale: one map-side-partial aggregate
    to k=5 rows, then k-element driver-free scalar math inside the plan;
    the collect_list is bounded by the group-key domain, never the data.
    """
    v = F.round(F.col("o_totalprice"), 0).cast("long")
    grp = (
        read_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderpriority").alias("g"))
        .agg(
            F.count("*").cast("long").alias("n_g"),
            F.sum(v).cast("long").alias("s_g"),
            F.sum(v * v).cast("long").alias("ss_g"),
        )
    )
    fold = grp.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("n_g").cast("long").alias("n"),
        F.sum("s_g").cast("long").alias("s"),
        F.sum("ss_g").cast("long").alias("ss"),
        F.aggregate(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("g"),
                        (
                            F.col("s_g").cast("double")
                            * F.col("s_g").cast("double")
                            / F.col("n_g").cast("double")
                        ).alias("t"),
                    )
                )
            ),
            F.lit(0.0),
            lambda acc, x: acc + x["t"],
        ).alias("ssb_part"),
    )
    dec = fold.select(
        "k",
        "n",
        (
            F.col("ssb_part")
            - F.col("s").cast("double")
            * F.col("s").cast("double")
            / F.col("n").cast("double")
        ).alias("ssb"),
        (F.col("ss").cast("double") - F.col("ssb_part")).alias("ssw"),
    )
    return dec.select(
        "k",
        "n",
        "ssb",
        "ssw",
        (
            (F.col("ssb") / (F.col("k") - 1).cast("double"))
            / (F.col("ssw") / (F.col("n") - F.col("k")).cast("double"))
        ).alias("f_stat"),
    )


@register(
    "stats_kendall_tau_grouped",
    oracle=f"""
    WITH series AS ({_NATION_MONTHLY_SQL}),
    pairs AS (
      SELECT a.n_name,
             CASE WHEN b.cents > a.cents THEN 1 ELSE 0 END AS conc,
             CASE WHEN b.cents < a.cents THEN 1 ELSE 0 END AS disc
      FROM series a JOIN series b
        ON a.n_name = b.n_name AND a.m < b.m),
    months AS (
      SELECT n_name, CAST(count(*) AS BIGINT) AS n_months
      FROM series GROUP BY 1),
    counts AS (
      SELECT n_name,
             CAST(sum(conc) AS BIGINT) AS nc,
             CAST(sum(disc) AS BIGINT) AS nd
      FROM pairs GROUP BY 1)
    SELECT m.n_name AS nation, m.n_months, c.nc, c.nd
    FROM months m JOIN counts c ON m.n_name = c.n_name
    """,
)
def stats_kendall_tau_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KENDALL CONCORDANCE PER GROUP — is each nation's monthly revenue
    trending (tau = (nc−nd)/pairs)? The O(m²) pairwise comparison is
    done WITHIN a group whose series length is calendar-bounded (≤84
    months → ≤3.5k pairs per nation, constant in data scale), so the
    self-join is a per-key bounded blow-up on an already-aggregated
    frame — the 100 TB cost is the single (nation, month) pre-agg
    shuffle, and the pair join co-locates both sides on the SAME group
    key (one equi-join, no cartesian). Outputs exact integer concordant/
    discordant counts; the oracle divides its fan-out back out rather
    than joining twice."""
    series = _nation_monthly_cents(spark, sf_dir)
    a = series.alias("a")
    b = series.alias("b")
    pairs = a.join(
        b,
        (F.col("a.n_name") == F.col("b.n_name"))
        & (F.col("a.m") < F.col("b.m")),
    ).select(
        F.col("a.n_name").alias("nation"),
        F.when(F.col("b.cents") > F.col("a.cents"), 1)
        .otherwise(0)
        .alias("conc"),
        F.when(F.col("b.cents") < F.col("a.cents"), 1)
        .otherwise(0)
        .alias("disc"),
    )
    months = series.groupBy(F.col("n_name").alias("nation")).agg(
        F.count("*").cast("long").alias("n_months")
    )
    counts = pairs.groupBy("nation").agg(
        F.sum("conc").cast("long").alias("nc"),
        F.sum("disc").cast("long").alias("nd"),
    )
    return months.join(counts, "nation").select(
        "nation", "n_months", "nc", "nd"
    )


@register(
    "stats_bootstrap_poisson",
    oracle="""
    WITH hashed AS (
      SELECT t.range AS b, o.cents,
             ('0x' || substr(md5(o.o_orderkey::VARCHAR || '|boot'
                                 || t.range::VARCHAR), 1, 8))::BIGINT
               % 10000 AS h
      FROM (SELECT o_orderkey,
                   CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
            FROM orders) o
      CROSS JOIN range(0, 20) t),
    w AS (
      SELECT b,
             CASE
               WHEN h < 3679 THEN 0 WHEN h < 7358 THEN 1
               WHEN h < 9197 THEN 2 WHEN h < 9810 THEN 3 ELSE 4
             END AS w,
             cents
      FROM hashed)
    SELECT CAST(b AS BIGINT) AS b,
           CAST(sum(w) AS BIGINT) AS n_eff,
           CAST(sum(w * cents) AS BIGINT) AS sum_cents,
           CAST(sum(w * cents) * 1000 // sum(w) AS BIGINT) AS mean_milli
    FROM w GROUP BY 1
    """,
)
def stats_bootstrap_poisson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POISSON BOOTSTRAP — the distributed bootstrap (resampling n-of-n
    WITH replacement needs global coordination; giving each row an
    independent Poisson(1) multiplicity per replicate does not, and the
    replicate size concentrates at n). Derandomized: the multiplicity
    comes from fixed Poisson-pmf thresholds (3679/7358/9197/9810 out of
    10^4 ≈ the e^{-1} ladder) on an md5 bucket salted per replicate —
    the ``stats_permutation_test`` universe trick, so both engines draw
    identical "randomness". Spark computes all 20 replicates as
    CONDITIONAL SUMS in ONE aggregate over one scan (the oracle uses
    the explicit ×20 fan-out); outputs exact BIGINT (n_eff, sum_cents)
    per replicate plus the floor-scaled replicate mean — the spread of
    ``mean_milli`` across the 20 rows IS the standard-error estimate.
    All arithmetic integer; positive operands make Spark's truncating
    div and DuckDB's flooring // agree."""
    from irio_mapreduce_spark.io import spread_scan, table_path
    from irio_mapreduce_spark.llm.sampling import hash_bucket

    # r12 (guide §2.5): the bench parquet is ONE row group, so the
    # 20-universe md5 partial aggregate — the entry's whole cost — ran as
    # one task; spread the 2 projected columns first (no-op once the
    # input splits at scale). Same fix as stats_permutation_test.
    pts = spread_scan(
        spark,
        read_table(spark, sf_dir, "orders").select(
            "o_orderkey",
            F.floor(F.col("o_totalprice") * 100 + 0.5)
            .cast("long")
            .alias("cents"),
        ),
        table_path(sf_dir, "orders"),
    )
    def _build_aggs():
        aggs = []
        for b in range(20):
            h = hash_bucket(["o_orderkey"], n_buckets=10000, salt=f"boot{b}")
            w = (
                F.when(h < 3679, 0)
                .when(h < 7358, 1)
                .when(h < 9197, 2)
                .when(h < 9810, 3)
                .otherwise(4)
            )
            aggs.append(F.sum(w).cast("long").alias(f"n_{b}"))
            aggs.append(
                F.sum(w * F.col("cents")).cast("long").alias(f"s_{b}")
            )
        return aggs

    # r13: ~1.5 s of py4j construction for the 40 threshold aggregates,
    # memoized per context.
    one = pts.agg(*session_memo(("boot_aggs",), _build_aggs))
    stack_args = ", ".join(
        f"CAST({b} AS BIGINT), n_{b}, s_{b}" for b in range(20)
    )
    rows = one.select(F.expr(f"stack(20, {stack_args}) AS (b, n_eff, sum_cents)"))
    return rows.select(
        "b",
        "n_eff",
        "sum_cents",
        F.expr("sum_cents * 1000 div n_eff").cast("long").alias("mean_milli"),
    )


@register(
    "stats_theil_sen_grouped",
    oracle=f"""
    WITH series AS ({_NATION_MONTHLY_SQL}),
    slopes AS (
      SELECT a.n_name AS nation,
             CAST(floor(CAST((b.cents - a.cents) * 1000 AS DOUBLE)
                        / CAST(b.m - a.m AS DOUBLE)) AS BIGINT) AS s
      FROM series a JOIN series b
        ON a.n_name = b.n_name AND a.m < b.m),
    ranked AS (
      SELECT nation, s,
             row_number() OVER (PARTITION BY nation ORDER BY s) AS rn,
             count(*) OVER (PARTITION BY nation) AS np
      FROM slopes)
    SELECT nation,
           CAST(max(np) AS BIGINT) AS n_pairs,
           CAST(sum(CASE WHEN rn = (np + 1) // 2 THEN s ELSE 0 END)
                + sum(CASE WHEN rn = np // 2 + 1 THEN s ELSE 0 END)
                AS BIGINT) AS median_slope_x2
    FROM ranked GROUP BY 1
    """,
)
def stats_theil_sen_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THEIL-SEN ROBUST SLOPE PER GROUP — the median of all pairwise
    slopes of each nation's monthly revenue: breakdown point 29%, immune
    to the outlier months that wreck the OLS entries. Same bounded-pair
    design as ``stats_kendall_tau_grouped`` (calendar-capped series →
    ≤3.5k pairs/group, one co-located equi-join). Exactness: slopes are
    floor-scaled integers (Δmonth ≤ 84 means a non-integer quotient sits
    ≥ 1/84 from any integer — far beyond double ulp, so ``floor`` of the
    correctly-rounded division is exact on both engines), and the median
    is DOUBLED (sum of the two middle order statistics — equal for odd
    counts) so it stays BIGINT with no .5 loss. Position-based middle
    selection over a per-group window; values at sorted positions are
    well-defined under ties regardless of tie order."""
    series = _nation_monthly_cents(spark, sf_dir)
    a = series.alias("a")
    b = series.alias("b")
    slopes = a.join(
        b,
        (F.col("a.n_name") == F.col("b.n_name"))
        & (F.col("a.m") < F.col("b.m")),
    ).select(
        F.col("a.n_name").alias("nation"),
        F.floor(
            ((F.col("b.cents") - F.col("a.cents")) * 1000).cast("double")
            / (F.col("b.m") - F.col("a.m")).cast("double")
        )
        .cast("long")
        .alias("s"),
    )
    w = Window.partitionBy("nation").orderBy("s")
    ranked = slopes.select(
        "nation",
        "s",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("nation")).alias("np"),
    )
    return ranked.groupBy("nation").agg(
        F.max("np").cast("long").alias("n_pairs"),
        (
            F.sum(
                F.when(
                    F.col("rn") == F.expr("(np + 1) div 2"),
                    F.col("s"),
                ).otherwise(0)
            )
            + F.sum(
                F.when(
                    F.col("rn") == F.expr("np div 2") + 1, F.col("s")
                ).otherwise(0)
            )
        )
        .cast("long")
        .alias("median_slope_x2"),
    )


@register(
    "stats_two_proportion_z",
    oracle="""
    WITH users AS (
      SELECT user_id % 2 AS g,
             CASE WHEN sum(CASE WHEN event_type = 'purchase'
                               THEN 1 ELSE 0 END) > 0
                  THEN 1 ELSE 0 END AS converted
      FROM events GROUP BY user_id),
    counts AS (
      SELECT CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(sum(CASE WHEN g = 0 THEN converted ELSE 0 END)
                  AS BIGINT) AS k1,
             CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
             CAST(sum(CASE WHEN g = 1 THEN converted ELSE 0 END)
                  AS BIGINT) AS k2
      FROM users)
    SELECT n1, k1, n2, k2,
           CAST(k1 * n2 - k2 * n1 AS BIGINT) AS d,
           CASE WHEN k1 + k2 = 0 OR k1 + k2 = n1 + n2 THEN NULL
                ELSE (CAST(k1 * n2 - k2 * n1 AS DOUBLE)
                      * CAST(k1 * n2 - k2 * n1 AS DOUBLE)
                      * CAST(n1 + n2 AS DOUBLE))
                     / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                        * CAST(k1 + k2 AS DOUBLE)
                        * CAST(n1 + n2 - k1 - k2 AS DOUBLE))
           END AS z_sq
    FROM counts
    """,
)
def stats_two_proportion_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-PROPORTION Z-TEST (pooled) — the A/B-test workhorse: do even-
    and odd-id user cohorts convert (>=1 purchase) at different rates?
    The squared statistic is a pure RATIONAL in the four counts —
    z² = (k₁n₂−k₂n₁)²·N / (n₁n₂K(N−K)) — so no variance estimate ever
    touches a float until the final fixed-order product of exactly-cast
    BIGINTs (each < 2^53): the unrounded DOUBLE hash-matches, the
    ``stats_spearman_rank`` discipline. NULL when conversions are
    all-or-none (pooled variance 0). One distinct-user reduce, one
    4-counter aggregate — nothing at data scale but the per-user
    groupBy."""
    users = (
        read_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("converted")
        )
        .select((F.col("user_id") % 2).alias("g"), "converted")
    )
    counts = users.agg(
        F.sum(F.when(F.col("g") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("g") == 0, F.col("converted")).otherwise(0))
        .cast("long")
        .alias("k1"),
        F.sum(F.when(F.col("g") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n2"),
        F.sum(F.when(F.col("g") == 1, F.col("converted")).otherwise(0))
        .cast("long")
        .alias("k2"),
    )
    d = (F.col("k1") * F.col("n2") - F.col("k2") * F.col("n1")).cast("long")
    big_n = F.col("n1") + F.col("n2")
    big_k = F.col("k1") + F.col("k2")
    return counts.select(
        "n1",
        "k1",
        "n2",
        "k2",
        d.alias("d"),
        F.when(
            (big_k == 0) | (big_k == big_n), F.lit(None).cast("double")
        )
        .otherwise(
            (d.cast("double") * d.cast("double") * big_n.cast("double"))
            / (
                F.col("n1").cast("double")
                * F.col("n2").cast("double")
                * big_k.cast("double")
                * (big_n - big_k).cast("double")
            )
        )
        .alias("z_sq"),
    )


@register(
    "stats_benjamini_hochberg",
    oracle="""
    WITH pts AS (
      SELECT event_type,
             CAST(user_id % 2 AS BIGINT) AS grp,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS v,
             event_id::VARCHAR AS rid
      FROM events),
    tot AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(v) AS BIGINT) AS s,
             CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n1_o,
             CAST(sum(CASE WHEN grp = 1 THEN v ELSE 0 END) AS BIGINT)
               AS s1_o
      FROM pts GROUP BY event_type),
    perm AS (
      SELECT event_type, t.range AS b,
             CAST(sum(CASE WHEN (('0x' || substr(md5(rid || '|bh'
                                                  || t.range::VARCHAR),
                                  1, 8))::BIGINT % 2) = 1
                           THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(sum(CASE WHEN (('0x' || substr(md5(rid || '|bh'
                                                  || t.range::VARCHAR),
                                  1, 8))::BIGINT % 2) = 1
                           THEN v ELSE 0 END) AS BIGINT) AS s1
      FROM pts CROSS JOIN range(0, 24) t GROUP BY event_type, t.range),
    ge AS (
      SELECT p.event_type,
             CASE WHEN abs(CAST(p.s1 AS HUGEINT) * (t.n - p.n1)
                           - CAST(t.s - p.s1 AS HUGEINT) * p.n1)
                       * (CAST(t.n1_o AS HUGEINT) * (t.n - t.n1_o))
                  >= abs(CAST(t.s1_o AS HUGEINT) * (t.n - t.n1_o)
                         - CAST(t.s - t.s1_o AS HUGEINT) * t.n1_o)
                       * (CAST(p.n1 AS HUGEINT) * (t.n - p.n1))
                  THEN 1 ELSE 0 END AS ge1
      FROM perm p JOIN tot t USING (event_type)),
    pv AS (
      SELECT event_type, CAST(1 + sum(ge1) AS BIGINT) AS k
      FROM ge GROUP BY event_type),
    ranked AS (
      SELECT event_type, k,
             row_number() OVER (ORDER BY k, event_type) AS r,
             count(*) OVER () AS m
      FROM pv),
    cut AS (
      SELECT COALESCE(max(CASE WHEN 4 * m * k <= 25 * r THEN r END), 0)
               AS rmax
      FROM ranked)
    SELECT event_type, k, CAST(r AS BIGINT) AS r,
           (r <= rmax) AS rejected
    FROM ranked CROSS JOIN cut
    """,
)
def stats_benjamini_hochberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BENJAMINI-HOCHBERG FDR control over a FAMILY of derandomized
    permutation tests — the multiple-testing operator every metric
    platform needs once it runs one test per segment: m per-event-type
    tests (does mean value differ between the user-parity cohorts?) each
    produce an EXACT RATIONAL p-value k/25 (1 + count of 24 md5-relabeled
    universes whose cross-multiplied |mean difference| ≥ observed — the
    ``stats_permutation_test`` machinery, here grouped), then the BH
    step-up rule at α = 1/4 rejects ranks 1..r* where r* = max{r :
    p₍ᵣ₎ ≤ αr/m} — evaluated WITHOUT EVER FORMING A QUOTIENT:
    p₍ᵣ₎ ≤ αr/m ⇔ 4·m·k ≤ 25·r in integers, so the rejection set is
    bit-reproducible (a float BH threshold can flip a boundary rank
    between engines). Rank ties break on event_type on both sides; the
    rejection SET is tie-invariant, the printed ranks deterministic.

    Scale shape: ONE scan of the fact table computing 2 + 2·24
    conditional aggregates per group (never a ×24 row fan-out — the
    oracle uses the explicit fan-out form), then the BH step runs on the
    m-row p-value frame — window functions over a bounded frame. At
    100 TB with thousands of segments this is exactly the dashboard
    'which segments really moved' gate."""
    from irio_mapreduce_spark.io import spread_scan, table_path
    from irio_mapreduce_spark.llm.sampling import hash_bucket

    dec = "decimal(38,0)"
    # r12 (guide §2.5): the 24-universe md5 partial aggregate — the
    # entry's dominant cost — ran as one task on the single-row-group
    # bench parquet; spread the 4 projected columns first (no-op once the
    # input splits at scale). Same fix as stats_permutation_test.
    pts = spread_scan(
        spark,
        read_table(spark, sf_dir, "events").select(
            "event_type",
            (F.col("user_id") % 2).alias("grp"),
            F.floor(F.col("value") * 100 + 0.5).cast("long").alias("v"),
            "event_id",
        ),
        table_path(sf_dir, "events"),
    )
    def _build_aggs():
        aggs = [
            F.count("*").cast("long").alias("n"),
            F.sum("v").cast("long").alias("s"),
            F.sum(F.when(F.col("grp") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n1_o"),
            F.sum(F.when(F.col("grp") == 1, F.col("v")).otherwise(0))
            .cast("long")
            .alias("s1_o"),
        ]
        for b in range(24):
            gb = hash_bucket(["event_id"], n_buckets=2, salt=f"bh{b}")
            aggs.append(
                F.sum(F.when(gb == 1, 1).otherwise(0))
                .cast("long")
                .alias(f"n1_{b}")
            )
            aggs.append(
                F.sum(F.when(gb == 1, F.col("v")).otherwise(0))
                .cast("long")
                .alias(f"s1_{b}")
            )
        return aggs

    # ~2.6-3.5 s of py4j construction (48 md5 conditional aggregates)
    # memoized per context.
    aggs = session_memo(("bh_aggs",), _build_aggs)
    t = pts.groupBy("event_type").agg(*aggs)
    # k = 1 + Σ_b [ |Δ_b| ≥ |Δ_obs| ], compared by FULL cross-
    # multiplication in DECIMAL(38,0) (group sizes differ per universe).
    # r12 (guide §1.2 per-task work / §7.3 planning cost): the 24
    # comparisons used to be CHAINED into one expression — 24 inlined
    # copies of the decimal cross-multiplication whose Catalyst analysis
    # alone cost ~3 s driver-side. The (n1_b, s1_b) pairs are instead
    # EXPLODED over the already-aggregated m-row frame (5 rows here —
    # the fact-table scan still computes all 48 sums in ONE pass, the
    # "never a ×24 fan-out" property below refers to that scan) and ONE
    # comparison expression + a count-sum reproduces the same integer k.
    def _build_obs():
        obs = F.abs(
            F.col("s1_o").cast(dec) * (F.col("n") - F.col("n1_o")).cast(dec)
            - (F.col("s") - F.col("s1_o")).cast(dec) * F.col("n1_o").cast(dec)
        )
        obs_w = F.col("n1_o").cast(dec) * (
            F.col("n") - F.col("n1_o")
        ).cast(dec)
        uni = F.array(
            *[
                F.struct(
                    F.col(f"n1_{b}").alias("n1b"),
                    F.col(f"s1_{b}").alias("s1b"),
                )
                for b in range(24)
            ]
        )
        return obs, obs_w, uni

    obs, obs_w, uni = session_memo(("bh_obs",), _build_obs)
    ex_u = t.select(
        "event_type", "n", "s", "n1_o", "s1_o", F.explode(uni).alias("u")
    )
    d_b = F.abs(
        F.col("u.s1b").cast(dec) * (F.col("n") - F.col("u.n1b")).cast(dec)
        - (F.col("s") - F.col("u.s1b")).cast(dec) * F.col("u.n1b").cast(dec)
    )
    w_b = F.col("u.n1b").cast(dec) * (F.col("n") - F.col("u.n1b")).cast(dec)
    pv = ex_u.groupBy("event_type").agg(
        (1 + F.sum(F.when(d_b * obs_w >= obs * w_b, 1).otherwise(0)))
        .cast("long")
        .alias("k")
    )
    w_rank = Window.orderBy("k", "event_type")
    ranked = pv.select(
        "event_type",
        "k",
        F.row_number().over(w_rank).cast("long").alias("r"),
        F.count("*").over(Window.partitionBy()).cast("long").alias("m"),
    )
    cut = ranked.agg(
        F.coalesce(
            F.max(F.when(4 * F.col("m") * F.col("k") <= 25 * F.col("r"), F.col("r"))),
            F.lit(0).cast("long"),
        ).alias("rmax")
    )
    return (
        ranked.crossJoin(F.broadcast(cut))
        .select(
            "event_type", "k", "r", (F.col("r") <= F.col("rmax")).alias("rejected")
        )
    )


@register(
    "stats_brown_forsythe",
    oracle="""
    WITH pts AS (
      SELECT o_orderpriority AS g,
             CAST(round(o_totalprice) AS BIGINT) AS v,
             CAST(count(*) AS BIGINT) AS w
      FROM orders GROUP BY 1, 2),
    cum AS (
      SELECT g, v, w,
             CAST(sum(w) OVER (PARTITION BY g ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cw,
             CAST(sum(w) OVER (PARTITION BY g) AS BIGINT) AS tw
      FROM pts),
    med AS (
      SELECT g,
             CAST(min(CASE WHEN 2 * cw >= tw THEN v END) AS BIGINT)
               AS med_v
      FROM cum GROUP BY 1),
    grp AS (
      SELECT p.g,
             CAST(sum(p.w) AS BIGINT) AS n_g,
             CAST(sum(abs(p.v - m.med_v) * p.w) AS BIGINT) AS s_g,
             CAST(sum(abs(p.v - m.med_v) * abs(p.v - m.med_v) * p.w)
                  AS BIGINT) AS ss_g
      FROM pts p JOIN med m ON p.g = m.g GROUP BY 1),
    fold AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(n_g) AS BIGINT) AS n,
             CAST(sum(s_g) AS BIGINT) AS s,
             CAST(sum(ss_g) AS BIGINT) AS ss,
             list_reduce(
               list(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE)
                    / CAST(n_g AS DOUBLE) ORDER BY g),
               (a, b) -> a + b) AS ssb_part
      FROM grp),
    dec AS (
      SELECT k, n,
             ssb_part - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                          / CAST(n AS DOUBLE) AS ssb,
             CAST(ss AS DOUBLE) - ssb_part AS ssw
      FROM fold)
    SELECT k, n, ssb, ssw,
           (ssb / CAST(k - 1 AS DOUBLE))
             / (ssw / CAST(n - k AS DOUBLE)) AS f_stat
    FROM dec
    """,
)
def stats_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BROWN-FORSYTHE VARIANCE-HOMOGENEITY TEST — Levene's test with the
    group MEDIAN as center (the robust form): does the SPREAD of order
    value differ across priorities? The transform z = |x − med_g| uses
    the repo's deterministic LOWER median (min v with 2·cum_w ≥ total_w
    over the weighted distinct-value distribution — the `stats_mad_*`
    device, integer dollars so z² sums stay in BIGINT at sf0.1), then
    the statistic is exactly the one-way ANOVA F on z — the fold reuses
    the `stats_anova_oneway` template verbatim: BIGINT moments, the one
    per-group-rational sum Σ s_g²/n_g folded IN GROUP-KEY ORDER on both
    engines, a fixed scalar IEEE tail — so the UNROUNDED doubles
    hash-match. That shared fold template is pinned from first
    principles in tests/test_properties.py (a from-scratch numpy
    Brown-Forsythe on a hand-built corpus evaluated through the
    committed oracle SQL).

    Scale: two passes — a weighted distinct-value median (shuffle on
    group, cumulative window) and one map-side-partial moment aggregate
    — then k-row scalar math; the variance-gate companion to the mean
    tests (ANOVA/Welch) every metrics platform needs before trusting a
    pooled variance."""
    v = F.round(F.col("o_totalprice"), 0).cast("long")
    pts = (
        read_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderpriority").alias("g"), v.alias("v"))
        .agg(F.count("*").cast("long").alias("w"))
    )
    wcum = (
        Window.partitionBy("g")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = pts.select(
        "g",
        "v",
        "w",
        F.sum("w").over(wcum).cast("long").alias("cw"),
        F.sum("w").over(Window.partitionBy("g")).cast("long").alias("tw"),
    )
    med = cum.groupBy("g").agg(
        F.min(F.when(2 * F.col("cw") >= F.col("tw"), F.col("v")))
        .cast("long")
        .alias("med_v")
    )
    z = F.abs(F.col("v") - F.col("med_v"))
    grp = (
        pts.join(F.broadcast(med), "g")
        .groupBy("g")
        .agg(
            F.sum("w").cast("long").alias("n_g"),
            F.sum(z * F.col("w")).cast("long").alias("s_g"),
            F.sum(z * z * F.col("w")).cast("long").alias("ss_g"),
        )
    )
    fold = grp.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("n_g").cast("long").alias("n"),
        F.sum("s_g").cast("long").alias("s"),
        F.sum("ss_g").cast("long").alias("ss"),
        F.aggregate(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("g"),
                        (
                            F.col("s_g").cast("double")
                            * F.col("s_g").cast("double")
                            / F.col("n_g").cast("double")
                        ).alias("t"),
                    )
                )
            ),
            F.lit(0.0),
            lambda acc, x: acc + x["t"],
        ).alias("ssb_part"),
    )
    dec = fold.select(
        "k",
        "n",
        (
            F.col("ssb_part")
            - F.col("s").cast("double")
            * F.col("s").cast("double")
            / F.col("n").cast("double")
        ).alias("ssb"),
        (F.col("ss").cast("double") - F.col("ssb_part")).alias("ssw"),
    )
    return dec.select(
        "k",
        "n",
        "ssb",
        "ssw",
        (
            (F.col("ssb") / (F.col("k") - 1).cast("double"))
            / (F.col("ssw") / (F.col("n") - F.col("k")).cast("double"))
        ).alias("f_stat"),
    )


@register(
    "stats_wilcoxon_signed_rank",
    oracle="""
    WITH per AS (
      SELECT c_mktsegment AS seg, o_custkey,
             CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                           THEN CAST(floor(o_totalprice * 100 + 0.5)
                                     AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS a,
             CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                           THEN 0
                           ELSE CAST(floor(o_totalprice * 100 + 0.5)
                                     AS BIGINT) END) AS BIGINT) AS b
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1, 2),
    d AS (
      SELECT seg, a - b AS diff FROM per WHERE a <> b),
    ranked AS (
      SELECT seg, diff,
             2 * CAST(rank() OVER (PARTITION BY seg
                                   ORDER BY abs(diff)) AS BIGINT)
               + CAST(count(*) OVER (PARTITION BY seg, abs(diff))
                      AS BIGINT) - 1 AS r2
      FROM d),
    ties AS (
      SELECT seg, CAST(sum(t * t * t - t) AS BIGINT) AS tie3
      FROM (SELECT seg, abs(diff) AS ad, CAST(count(*) AS BIGINT) AS t
            FROM d GROUP BY 1, 2)
      GROUP BY 1),
    agg AS (
      SELECT seg, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN diff > 0 THEN r2 ELSE 0 END) AS BIGINT)
               AS w_plus_x2
      FROM ranked GROUP BY 1)
    SELECT seg, n, w_plus_x2,
           CAST(n * (n + 1) AS BIGINT) AS mean_x4,
           CAST(2 * n * (n + 1) * (2 * n + 1) - tie3 AS BIGINT) AS var_x48
    FROM agg JOIN ties USING (seg)
    """,
)
def stats_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WILCOXON SIGNED-RANK TEST — the PAIRED twin of the rank-sum test
    (``stats_mann_whitney_u`` compares two independent samples; this
    compares two treatments ON THE SAME SUBJECTS): per customer, cents
    spent on urgent/high-priority orders vs cents on the rest, paired
    difference d = a − b, zero differences dropped per the classic
    procedure, tested per market segment. Exact in integers end-to-end:
    the tie-averaged midrank of |d| is a half-integer, so ranks are
    DOUBLED (r2 = 2·rank + ties − 1, the ``stats_mann_whitney_u``
    device) making W⁺×2 = Σ_{d>0} r2 BIGINT-exact; the null moments ship
    as scaled integers too — E[W⁺]×4 = n(n+1) and the tie-corrected
    Var[W⁺]×48 = 2n(n+1)(2n+1) − Σ(t³−t) — so a consumer can form the
    z-score without this query ever emitting a float. Identity check
    available in-frame: W⁺×2 + W⁻×2 = n(n+1). The midrank doubling and
    both moment scalings are mirrored formulas with zero rounding slack,
    so they carry a first-principles pin (tests/test_properties.py
    evaluates the committed oracle on a hand-built corpus against a
    from-scratch pure-Python Wilcoxon).

    Scale shape: one join orders⋈customer (broadcastable dim at any SF),
    one groupBy per (segment, customer), then rank windows PARTITIONED
    BY SEGMENT — no global sort; the per-segment sorts shuffle once on
    the segment key. n³ stays in BIGINT to ~2M pairs per segment; past
    that the moments move to DECIMAL(38,0) unchanged in shape. At
    100 TB this is the A/B 'did the treatment move the paired metric'
    gate run per-segment in one pass."""
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    per = (
        read_table(spark, sf_dir, "orders")
        .join(
            F.broadcast(
                read_table(spark, sf_dir, "customer").select(
                    "c_custkey", "c_mktsegment"
                )
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(F.col("c_mktsegment").alias("seg"), "o_custkey")
        .agg(
            F.sum(F.when(hi, cents).otherwise(0)).cast("long").alias("a"),
            F.sum(F.when(hi, 0).otherwise(cents)).cast("long").alias("b"),
        )
    )
    d = per.filter(F.col("a") != F.col("b")).select(
        "seg", (F.col("a") - F.col("b")).alias("diff")
    )
    w_rank = Window.partitionBy("seg").orderBy(F.abs(F.col("diff")))
    w_tie = Window.partitionBy("seg", F.abs(F.col("diff")))
    ranked = d.select(
        "seg",
        "diff",
        (
            2 * F.rank().over(w_rank).cast("long")
            + F.count("*").over(w_tie).cast("long")
            - 1
        ).alias("r2"),
    )
    agg = ranked.groupBy("seg").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(F.col("diff") > 0, F.col("r2")).otherwise(0))
        .cast("long")
        .alias("w_plus_x2"),
    )
    ties = (
        d.groupBy("seg", F.abs(F.col("diff")).alias("ad"))
        .agg(F.count("*").cast("long").alias("t"))
        .groupBy("seg")
        .agg(
            F.sum(
                F.col("t") * F.col("t") * F.col("t") - F.col("t")
            )
            .cast("long")
            .alias("tie3")
        )
    )
    return agg.join(ties, "seg").select(
        "seg",
        "n",
        "w_plus_x2",
        (F.col("n") * (F.col("n") + 1)).cast("long").alias("mean_x4"),
        (
            2 * F.col("n") * (F.col("n") + 1) * (2 * F.col("n") + 1)
            - F.col("tie3")
        )
        .cast("long")
        .alias("var_x48"),
    )


@register(
    "stats_cochran_armitage",
    oracle="""
    WITH base AS (
      SELECT r_name AS region,
             CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS w,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey),
    g AS (
      SELECT region, w, CAST(count(*) AS BIGINT) AS n_g,
             CAST(sum(y) AS BIGINT) AS r_g
      FROM base GROUP BY 1, 2),
    tot AS (
      SELECT region,
             CAST(sum(n_g) AS BIGINT) AS n,
             CAST(sum(r_g) AS BIGINT) AS r,
             CAST(sum(w * r_g) AS BIGINT) AS swr,
             CAST(sum(w * n_g) AS BIGINT) AS swn,
             CAST(sum(w * w * n_g) AS BIGINT) AS swwn
      FROM g GROUP BY 1)
    SELECT region, n, r,
           CAST(n * swr - r * swn AS BIGINT) AS t_num,
           CAST(r * (n - r) AS BIGINT) AS var_rxs,
           CAST(n * swwn - swn * swn AS BIGINT) AS var_bracket
    FROM tot
    """,
)
def stats_cochran_armitage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COCHRAN-ARMITAGE TREND TEST — does a binary outcome TREND across
    ORDERED dose levels? (The chi-square contingency entry detects any
    association; this targets the monotone alternative, the standard
    epidemiology/conversion-funnel question.) Doses = the priority rank
    digit 1..5 parsed from o_orderpriority; outcome = order fully
    shipped (o_orderstatus = 'F'); tested per customer region. Exact in
    integers by clearing every denominator: the statistic
    T = Σ w_g(r_g − p̄·n_g) with p̄ = R/N ships as T×N =
    N·Σw_g r_g − R·Σw_g n_g, and Var(T)·N³ factors as
    R(N−R)·[N·Σw²_g n_g − (Σw_g n_g)²], emitted as the two BIGINT
    factors var_rxs and var_bracket so the consumer forms
    z² = N·t_num² / (var_rxs · var_bracket) with no engine float in the
    hash-compared output. The denominator-clearing is a mirrored formula
    with zero rounding slack → first-principles pin in
    tests/test_properties.py (committed oracle on a hand corpus vs a
    from-scratch p̄-form evaluation over exact Fractions).

    Scale shape: the two dimension hops (customer→nation→region) are
    broadcast joins; then ONE groupBy (region, dose) over the fact scan
    — 25 cells per region — and a 5-row fold per region. The dose
    moments are map-side-combinable sums, so at 100 TB this is a single
    scan with a 25-row-per-region reduce; no window, no sort."""
    base = (
        read_table(spark, sf_dir, "orders")
        .join(
            F.broadcast(
                read_table(spark, sf_dir, "customer").select(
                    "c_custkey", "c_nationkey"
                )
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(
                read_table(spark, sf_dir, "nation").select(
                    "n_nationkey", "n_regionkey"
                )
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(
                read_table(spark, sf_dir, "region").select(
                    "r_regionkey", "r_name"
                )
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select(
            F.col("r_name").alias("region"),
            F.substring(F.col("o_orderpriority"), 1, 1)
            .cast("long")
            .alias("w"),
            F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
        )
    )
    g = base.groupBy("region", "w").agg(
        F.count("*").cast("long").alias("n_g"),
        F.sum("y").cast("long").alias("r_g"),
    )
    tot = g.groupBy("region").agg(
        F.sum("n_g").cast("long").alias("n"),
        F.sum("r_g").cast("long").alias("r"),
        F.sum(F.col("w") * F.col("r_g")).cast("long").alias("swr"),
        F.sum(F.col("w") * F.col("n_g")).cast("long").alias("swn"),
        F.sum(F.col("w") * F.col("w") * F.col("n_g"))
        .cast("long")
        .alias("swwn"),
    )
    return tot.select(
        "region",
        "n",
        "r",
        (F.col("n") * F.col("swr") - F.col("r") * F.col("swn"))
        .cast("long")
        .alias("t_num"),
        (F.col("r") * (F.col("n") - F.col("r")))
        .cast("long")
        .alias("var_rxs"),
        (F.col("n") * F.col("swwn") - F.col("swn") * F.col("swn"))
        .cast("long")
        .alias("var_bracket"),
    )


@register(
    "stats_mcnemar_paired",
    oracle="""
    WITH cls AS (
      SELECT o_custkey,
             CASE WHEN substr(o_orderpriority, 1, 1) IN ('1', '2')
                  THEN 'a' ELSE 'b' END AS cls,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders
      WHERE substr(o_orderpriority, 1, 1) <> '3'),
    per_cust AS (
      SELECT o_custkey,
             CAST(max(CASE WHEN cls = 'a' THEN 1 ELSE 0 END) AS BIGINT)
               AS has_a,
             CAST(max(CASE WHEN cls = 'b' THEN 1 ELSE 0 END) AS BIGINT)
               AS has_b,
             CAST(max(CASE WHEN cls = 'a' THEN y END) AS BIGINT) AS ya,
             CAST(max(CASE WHEN cls = 'b' THEN y END) AS BIGINT) AS yb
      FROM cls GROUP BY 1),
    pairs AS (
      SELECT c_mktsegment AS segment, ya, yb
      FROM per_cust JOIN customer ON o_custkey = c_custkey
      WHERE has_a = 1 AND has_b = 1),
    cells AS (
      SELECT segment,
             CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(ya * yb) AS BIGINT) AS n_yy,
             CAST(sum(ya * (1 - yb)) AS BIGINT) AS n_yn,
             CAST(sum((1 - ya) * yb) AS BIGINT) AS n_ny,
             CAST(sum((1 - ya) * (1 - yb)) AS BIGINT) AS n_nn
      FROM pairs GROUP BY 1)
    SELECT segment, n_pairs, n_yy, n_yn, n_ny, n_nn,
           CAST((n_yn - n_ny) * (n_yn - n_ny) AS BIGINT) AS mcnemar_num,
           CAST(greatest(abs(n_yn - n_ny) - 1, 0)
                * greatest(abs(n_yn - n_ny) - 1, 0) AS BIGINT) AS cc_num
    FROM cells
    """,
)
def stats_mcnemar_paired(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNEMAR'S TEST — the PAIRED 2x2: did the same subject's binary
    outcome CHANGE between two conditions? (``stats_two_proportion_z``
    compares two independent samples; this is its paired twin, the
    before/after question A/B platforms actually face.) Subject =
    customer; condition A = the customer's expedited orders (priority
    1-2), condition B = deferred orders (priority 4-5; the neutral
    priority 3 is excluded); outcome = "has at least one fully-shipped
    ('F') order" within the condition. Only customers observed under
    BOTH conditions form pairs; tested per market segment. The entire
    test is integer-exact: the concordance cells (n_yy, n_yn, n_ny,
    n_nn) are BIGINT counts, the McNemar statistic's numerator
    (b−c)² and Edwards' continuity-corrected (|b−c|−1)² ship as BIGINT
    (denominator = b+c is derivable), so chi² = mcnemar_num/(n_yn+n_ny)
    has no engine float in the hash-compared output. Discordant-cell
    identity (b+c pairs drive the test; concordant pairs are inert)
    stated in tests/test_properties.py on a hand-built corpus.

    Scale shape: ONE groupBy over the order scan collapses to per-
    customer flags (map-side-combinable max), the segment dimension
    arrives by broadcast, then a 5-row aggregate. No window, no sort,
    no pairwise join — the pairing is the groupBy key itself."""
    cls = (
        read_table(spark, sf_dir, "orders")
        .withColumn("prio", F.substring("o_orderpriority", 1, 1))
        .filter(F.col("prio") != "3")
        .select(
            "o_custkey",
            F.when(F.col("prio").isin("1", "2"), "a")
            .otherwise("b")
            .alias("cls"),
            F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
        )
    )
    per_cust = cls.groupBy("o_custkey").agg(
        F.max(F.when(F.col("cls") == "a", 1).otherwise(0))
        .cast("long")
        .alias("has_a"),
        F.max(F.when(F.col("cls") == "b", 1).otherwise(0))
        .cast("long")
        .alias("has_b"),
        F.max(F.when(F.col("cls") == "a", F.col("y")))
        .cast("long")
        .alias("ya"),
        F.max(F.when(F.col("cls") == "b", F.col("y")))
        .cast("long")
        .alias("yb"),
    )
    pairs = (
        per_cust.filter((F.col("has_a") == 1) & (F.col("has_b") == 1))
        .join(
            F.broadcast(
                read_table(spark, sf_dir, "customer").select(
                    "c_custkey", "c_mktsegment"
                )
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(F.col("c_mktsegment").alias("segment"), "ya", "yb")
    )
    cells = pairs.groupBy("segment").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum(F.col("ya") * F.col("yb")).cast("long").alias("n_yy"),
        F.sum(F.col("ya") * (1 - F.col("yb"))).cast("long").alias("n_yn"),
        F.sum((1 - F.col("ya")) * F.col("yb")).cast("long").alias("n_ny"),
        F.sum((1 - F.col("ya")) * (1 - F.col("yb")))
        .cast("long")
        .alias("n_nn"),
    )
    d = F.col("n_yn") - F.col("n_ny")
    cc = F.greatest(F.abs(d) - 1, F.lit(0))
    return cells.select(
        "segment",
        "n_pairs",
        "n_yy",
        "n_yn",
        "n_ny",
        "n_nn",
        (d * d).cast("long").alias("mcnemar_num"),
        (cc * cc).cast("long").alias("cc_num"),
    )


@register(
    "stats_kruskal_wallis",
    oracle="""
    WITH base AS (
      SELECT r_name AS region,
             CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS grp,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey),
    ranked AS (
      SELECT region, grp,
             CAST(2 * rank() OVER (PARTITION BY region ORDER BY cents)
                  + count(*) OVER (PARTITION BY region, cents)
                  - 1 AS BIGINT) AS r2
      FROM base),
    per_grp AS (
      SELECT region, grp,
             CAST(count(*) AS BIGINT) AS n_g,
             CAST(sum(r2) AS BIGINT) AS s2_g
      FROM ranked GROUP BY 1, 2),
    ties AS (
      SELECT region, CAST(sum(t * t * t - t) AS BIGINT) AS tie_term
      FROM (SELECT region, cents, CAST(count(*) AS BIGINT) AS t
            FROM base GROUP BY 1, 2)
      GROUP BY 1),
    tot AS (
      SELECT region, CAST(sum(n_g) AS BIGINT) AS n_total
      FROM per_grp GROUP BY 1)
    SELECT p.region, p.grp, p.n_g, p.s2_g, t.n_total, ti.tie_term
    FROM per_grp p
      JOIN tot t ON p.region = t.region
      JOIN ties ti ON p.region = ti.region
    """,
)
def stats_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KRUSKAL-WALLIS H — the k-SAMPLE rank test (one-way ANOVA on
    ranks): do the five order-priority groups draw from the same
    totalprice distribution? Completes the nonparametric ladder —
    Mann-Whitney U is its 2-sample special case, Wilcoxon signed-rank
    the paired one, Jonckheere-Terpstra the ordered-alternative
    sibling. Tested per customer region; exact via the repo's
    DOUBLED-MIDRANK device (``stats_wilcoxon_signed_rank``): a value
    with min-rank a and multiplicity t has midrank a + (t−1)/2, so
    r2 = 2a + t − 1 is always integral and per-group rank sums ship as
    BIGINT s2_g = 2·R_g with zero float anywhere. The entry emits the
    SUFFICIENT STATISTICS of the test per (region, priority) cell —
    n_g, s2_g, region totals and the tie term Σ(t³−t) — from which
    H = [12/(N(N+1)) · Σ (s2_g/2)²/n_g − 3(N+1)] / (1 − ΣT/(N³−N))
    follows by scalar math; the doubled-rank identity
    Σ_g s2_g = N(N+1) per region plus an H-vs-first-principles pin on
    a hand corpus live in tests/test_properties.py.

    Scale shape: dims arrive by broadcast; ranks are a PER-REGION
    window (one shuffle keyed on the 5-value segment — the same
    partial-sort shape as ``stats_mann_whitney_u``; at 1000 executors
    a low-cardinality partition key concentrates, so a skewed tenant
    would rank on (region, salt) and merge rank offsets by running
    count — noted, not needed at 5 regions x uniform data); everything
    after the window is two map-side-combinable groupBys (25 cells +
    5 tie rows). No global sort."""
    base = (
        read_table(spark, sf_dir, "orders")
        .join(
            F.broadcast(
                read_table(spark, sf_dir, "customer").select(
                    "c_custkey", "c_nationkey"
                )
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(
                read_table(spark, sf_dir, "nation").select(
                    "n_nationkey", "n_regionkey"
                )
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(
                read_table(spark, sf_dir, "region").select(
                    "r_regionkey", "r_name"
                )
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select(
            F.col("r_name").alias("region"),
            F.substring("o_orderpriority", 1, 1).cast("long").alias("grp"),
            F.floor(F.col("o_totalprice") * 100 + 0.5)
            .cast("long")
            .alias("cents"),
        )
    )
    w_rank = Window.partitionBy("region").orderBy("cents")
    w_tie = Window.partitionBy("region", "cents")
    ranked = base.select(
        "region",
        "grp",
        "cents",
        (2 * F.rank().over(w_rank) + F.count("*").over(w_tie) - 1)
        .cast("long")
        .alias("r2"),
    )
    per_grp = ranked.groupBy("region", "grp").agg(
        F.count("*").cast("long").alias("n_g"),
        F.sum("r2").cast("long").alias("s2_g"),
    )
    ties = (
        base.groupBy("region", "cents")
        .agg(F.count("*").cast("long").alias("t"))
        .groupBy("region")
        .agg(
            F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
            .cast("long")
            .alias("tie_term")
        )
    )
    tot = per_grp.groupBy("region").agg(
        F.sum("n_g").cast("long").alias("n_total")
    )
    return (
        per_grp.join(tot, "region")
        .join(ties, "region")
        .select("region", "grp", "n_g", "s2_g", "n_total", "tie_term")
    )


@register(
    "stats_jonckheere_terpstra",
    oracle="""
    WITH base AS (
      SELECT r_name AS region,
             CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS dose,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey),
    cells AS (
      SELECT region, cents,
             CAST(sum(CASE WHEN dose = 1 THEN 1 ELSE 0 END) AS BIGINT) AS t1,
             CAST(sum(CASE WHEN dose = 2 THEN 1 ELSE 0 END) AS BIGINT) AS t2,
             CAST(sum(CASE WHEN dose = 3 THEN 1 ELSE 0 END) AS BIGINT) AS t3,
             CAST(sum(CASE WHEN dose = 4 THEN 1 ELSE 0 END) AS BIGINT) AS t4,
             CAST(sum(CASE WHEN dose = 5 THEN 1 ELSE 0 END) AS BIGINT) AS t5
      FROM base GROUP BY 1, 2),
    cum AS (
      SELECT region, t1, t2, t3, t4, t5,
             CAST(coalesce(sum(t1) OVER w, 0) AS BIGINT) AS c1,
             CAST(coalesce(sum(t2) OVER w, 0) AS BIGINT) AS c2,
             CAST(coalesce(sum(t3) OVER w, 0) AS BIGINT) AS c3,
             CAST(coalesce(sum(t4) OVER w, 0) AS BIGINT) AS c4
      FROM cells
      WINDOW w AS (PARTITION BY region ORDER BY cents
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
    folded AS (
      SELECT region,
             CAST(sum(t2 * (2 * c1 + t1)
                    + t3 * (2 * (c1 + c2) + t1 + t2)
                    + t4 * (2 * (c1 + c2 + c3) + t1 + t2 + t3)
                    + t5 * (2 * (c1 + c2 + c3 + c4) + t1 + t2 + t3 + t4))
                  AS BIGINT) AS jt_x2,
             CAST(sum(t1) AS BIGINT) AS n1, CAST(sum(t2) AS BIGINT) AS n2,
             CAST(sum(t3) AS BIGINT) AS n3, CAST(sum(t4) AS BIGINT) AS n4,
             CAST(sum(t5) AS BIGINT) AS n5
      FROM cum GROUP BY 1)
    SELECT region, CAST(n1 + n2 + n3 + n4 + n5 AS BIGINT) AS n_total,
           jt_x2,
           CAST((n1 + n2 + n3 + n4 + n5) * (n1 + n2 + n3 + n4 + n5)
                - (n1*n1 + n2*n2 + n3*n3 + n4*n4 + n5*n5) AS BIGINT)
             AS mean_x4,
           CAST((n1 + n2 + n3 + n4 + n5) * (n1 + n2 + n3 + n4 + n5)
                  * (2 * (n1 + n2 + n3 + n4 + n5) + 3)
                - (n1*n1*(2*n1+3) + n2*n2*(2*n2+3) + n3*n3*(2*n3+3)
                   + n4*n4*(2*n4+3) + n5*n5*(2*n5+3)) AS BIGINT)
             AS var_x72
    FROM folded
    """,
)
def stats_jonckheere_terpstra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JONCKHEERE-TERPSTRA — the ORDERED-alternative k-sample test: does
    totalprice trend MONOTONICALLY with the priority dose 1..5? (The
    rank twin of ``stats_cochran_armitage``'s binary trend, and the
    targeted alternative Kruskal-Wallis dilutes across all
    permutations.) JT = Σ_{i<j} U_ij sums a Mann-Whitney U over every
    ordered group pair — naively a pairwise JOIN, O(n²) at any scale.
    This entry computes it in ONE per-region value-ordered pass: on the
    COMPACTED (region, cents) grain each row carries its per-dose tie
    counts t_d and, via a single shared window, the per-dose counts
    C_d of strictly-smaller values; an element of dose j then
    contributes t_j·(2·ΣC_{d<j} + Σt_{d<j}) to the DOUBLED statistic
    jt_x2 = 2·JT (ties count once — exactly the ½ convention, kept
    integral). Null moments ship denominator-cleared as BIGINT:
    mean_x4 = N² − Σn_g² (= 4·E[JT]) and var_x72 = N²(2N+3) −
    Σn_g²(2n_g+3) (= 72·Var, the classic no-tie form — documented, the
    values themselves are exact regardless), so z = (jt_x2/2 −
    mean_x4/4)/√(var_x72/72) needs no engine float in the hashed
    output. Pins in tests/test_properties.py: brute-force O(n²)
    pairwise JT on a hand corpus, and the 2-group degeneration
    JT ≡ Mann-Whitney U.

    Scale shape: broadcast dims, one groupBy to the distinct-value
    grain (map-side combine collapses duplicates early), one window
    sort per region over DISTINCT values only, then a 5-row fold. The
    window carries 4 cumulative sums through one sort — never 10
    pairwise group joins."""
    base = (
        read_table(spark, sf_dir, "orders")
        .join(
            F.broadcast(
                read_table(spark, sf_dir, "customer").select(
                    "c_custkey", "c_nationkey"
                )
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(
                read_table(spark, sf_dir, "nation").select(
                    "n_nationkey", "n_regionkey"
                )
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(
                read_table(spark, sf_dir, "region").select(
                    "r_regionkey", "r_name"
                )
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select(
            F.col("r_name").alias("region"),
            F.substring("o_orderpriority", 1, 1).cast("long").alias("dose"),
            F.floor(F.col("o_totalprice") * 100 + 0.5)
            .cast("long")
            .alias("cents"),
        )
    )
    t = [
        F.sum(F.when(F.col("dose") == d, 1).otherwise(0))
        .cast("long")
        .alias(f"t{d}")
        for d in range(1, 6)
    ]
    cells = base.groupBy("region", "cents").agg(*t)
    w = (
        Window.partitionBy("region")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = cells.select(
        "region",
        *[F.col(f"t{d}") for d in range(1, 6)],
        *[
            F.coalesce(F.sum(f"t{d}").over(w), F.lit(0))
            .cast("long")
            .alias(f"c{d}")
            for d in range(1, 5)
        ],
    )
    contrib = (
        F.col("t2") * (2 * F.col("c1") + F.col("t1"))
        + F.col("t3")
        * (2 * (F.col("c1") + F.col("c2")) + F.col("t1") + F.col("t2"))
        + F.col("t4")
        * (
            2 * (F.col("c1") + F.col("c2") + F.col("c3"))
            + F.col("t1")
            + F.col("t2")
            + F.col("t3")
        )
        + F.col("t5")
        * (
            2 * (F.col("c1") + F.col("c2") + F.col("c3") + F.col("c4"))
            + F.col("t1")
            + F.col("t2")
            + F.col("t3")
            + F.col("t4")
        )
    )
    folded = cum.groupBy("region").agg(
        F.sum(contrib).cast("long").alias("jt_x2"),
        *[
            F.sum(f"t{d}").cast("long").alias(f"n{d}")
            for d in range(1, 6)
        ],
    )
    n = (
        F.col("n1") + F.col("n2") + F.col("n3") + F.col("n4") + F.col("n5")
    )
    sq = lambda c: F.col(c) * F.col(c)  # noqa: E731
    sum_sq = sq("n1") + sq("n2") + sq("n3") + sq("n4") + sq("n5")
    sum_var = sum(
        sq(f"n{d}") * (2 * F.col(f"n{d}") + 3) for d in range(1, 6)
    )
    return folded.select(
        "region",
        n.cast("long").alias("n_total"),
        "jt_x2",
        (n * n - sum_sq).cast("long").alias("mean_x4"),
        (n * n * (2 * n + 3) - sum_var).cast("long").alias("var_x72"),
    )


@register(
    "stats_gini_concentration",
    oracle="""
    WITH spend AS (
      SELECT r_name AS region, o_custkey,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
      GROUP BY 1, 2),
    ranked AS (
      SELECT region, cents,
             CAST(row_number() OVER (PARTITION BY region
                                     ORDER BY cents, o_custkey)
                  AS BIGINT) AS i
      FROM spend)
    SELECT region,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(cents) AS BIGINT) AS total_cents,
           CAST(2 * sum(i * cents) - (count(*) + 1) * sum(cents)
                AS BIGINT) AS gini_num
    FROM ranked GROUP BY 1
    """,
)
def stats_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GINI CONCENTRATION INDEX — revenue inequality per region: how
    concentrated is customer spend? (``stats_gini_impurity`` is the
    classification-split criterion; THIS is the economist's Lorenz-
    curve Gini, the standard 'top customers share' KPI.) Exact in
    integers via the sorted-rank form: with per-customer cent spends
    x_(1) ≤ … ≤ x_(n),  G = Σ(2i−n−1)·x_(i) / (n·Σx), and the
    numerator ships as BIGINT gini_num = 2·Σ i·x_i − (n+1)·Σx_i so no
    division happens engine-side. The rank i is a per-region
    row_number ordered (cents, custkey); within a tie block of equal
    x the weight Σ(2i−n−1) over the block is order-invariant, so the
    tiebreak only pins ENGINE determinism, never the value — that
    invariance plus the mean-absolute-difference identity
    Σ_i Σ_j |x_i − x_j| = 2·gini_num is pinned in
    tests/test_properties.py on a hand corpus in Fractions.

    Scale shape: the fact scan collapses FIRST to the per-customer
    grain (one map-side-combinable groupBy), so the window ranks only
    |customers| rows per region — never order rows; then one 5-row
    aggregate. The sort is per-region over the compacted grain, the
    ``stats_kruskal_wallis`` shape."""
    spend = (
        read_table(spark, sf_dir, "orders")
        .join(
            F.broadcast(
                read_table(spark, sf_dir, "customer").select(
                    "c_custkey", "c_nationkey"
                )
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(
                read_table(spark, sf_dir, "nation").select(
                    "n_nationkey", "n_regionkey"
                )
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(
                read_table(spark, sf_dir, "region").select(
                    "r_regionkey", "r_name"
                )
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy(F.col("r_name").alias("region"), "o_custkey")
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    w = Window.partitionBy("region").orderBy("cents", "o_custkey")
    ranked = spend.select(
        "region", "cents", F.row_number().over(w).cast("long").alias("i")
    )
    return ranked.groupBy("region").agg(
        F.count("*").cast("long").alias("n_customers"),
        F.sum("cents").cast("long").alias("total_cents"),
        (
            2 * F.sum(F.col("i") * F.col("cents"))
            - (F.count("*") + 1) * F.sum("cents")
        )
        .cast("long")
        .alias("gini_num"),
    )


@register(
    "stats_logrank_test",
    oracle="""
    WITH users AS (
      SELECT user_id % 2 AS grp,
             CAST(date_diff('day',
                    CAST(min(ts) AS DATE),
                    CAST(coalesce(
                      min(CASE WHEN event_type = 'purchase' THEN ts END),
                      max(ts)) AS DATE)) AS BIGINT) AS dur,
             CASE WHEN min(CASE WHEN event_type = 'purchase' THEN ts END)
                       IS NULL THEN 0 ELSE 1 END AS ev
      FROM events GROUP BY user_id),
    hist AS (
      SELECT grp, dur, CAST(count(*) AS BIGINT) AS w,
             CAST(sum(ev) AS BIGINT) AS d
      FROM users GROUP BY 1, 2),
    times AS (
      SELECT dur AS t FROM hist GROUP BY dur HAVING sum(d) > 0),
    cells AS (
      SELECT times.t,
             CAST(sum(CASE WHEN grp = 0 THEN w ELSE 0 END) AS BIGINT) AS n1,
             CAST(sum(w) AS BIGINT) AS nj,
             CAST(sum(CASE WHEN grp = 0 AND dur = t THEN d ELSE 0 END)
                  AS BIGINT) AS d1,
             CAST(sum(CASE WHEN dur = t THEN d ELSE 0 END) AS BIGINT) AS dj
      FROM times JOIN hist ON hist.dur >= times.t
      GROUP BY times.t),
    arrs AS (
      SELECT list(CAST(dj AS DOUBLE) * CAST(n1 AS DOUBLE)
                  / CAST(nj AS DOUBLE) ORDER BY t) AS e_terms,
             list(CASE WHEN nj > 1 THEN
                    CAST(dj AS DOUBLE) * CAST(n1 AS DOUBLE)
                    * CAST(nj - n1 AS DOUBLE) * CAST(nj - dj AS DOUBLE)
                    / (CAST(nj AS DOUBLE) * CAST(nj AS DOUBLE)
                       * CAST(nj - 1 AS DOUBLE))
                  ELSE 0.0 END ORDER BY t) AS v_terms,
             CAST(sum(d1) AS BIGINT) AS o1,
             CAST(sum(dj - d1) AS BIGINT) AS o2
      FROM cells),
    folded AS (
      SELECT o1, o2,
             list_reduce(list_prepend(0.0, e_terms), (a, b) -> a + b) AS e1,
             list_reduce(list_prepend(0.0, v_terms), (a, b) -> a + b) AS v
      FROM arrs)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM users WHERE grp = 0) AS n1,
           (SELECT CAST(count(*) AS BIGINT) FROM users WHERE grp = 1) AS n2,
           o1, o2, e1, v,
           (CAST(o1 AS DOUBLE) - e1) * (CAST(o1 AS DOUBLE) - e1) / v
             AS chi2
    FROM folded
    """,
)
def stats_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOG-RANK (Mantel-Cox) TEST — the inferential sibling of
    ``events_kaplan_meier``: do two cohorts' time-to-purchase survival
    curves differ? Same censoring-aware framing (duration = first event
    → first purchase, right-censored at last observed event), groups =
    user parity. At each pooled event day t: n1, nj at risk, d1, dj
    events — all BIGINT cells from one bounded join (times × duration
    histogram, calendar-bounded ≤ ~31 rows each side). O₁ = Σd1 is
    integer-exact; the hypergeometric moments E₁ = Σ dj·n1/nj and
    V = Σ dj·n1(nj−n1)(nj−dj)/(nj²(nj−1)) are sums of per-time
    RATIONALS with varying denominators, so both engines compute the
    per-time terms as doubles (each term a pure function of its BIGINT
    cell — no running state, dodging the DuckDB struct-accumulator
    fault documented in ``events_holt_linear_fixed_point``) and fold
    the SAME time-ordered list sequentially — identical operand order,
    identical IEEE roundings, unrounded-double hash match (the
    Kaplan-Meier device). χ² = (O₁−E₁)²/V follows as scalar ops on
    the folded values; singleton risk sets (nj=1) contribute zero
    variance by the CASE guard, not a division crash. Pinned against a
    from-scratch Fraction log-rank on a hand corpus in
    tests/test_properties.py.

    Scale shape: ONE per-user reduce is the only data-scale pass; the
    histogram, the at-risk join, and the fold all run on the
    calendar-bounded grain. No window over raw events, no sort beyond
    the ≤31-element list."""
    ev = read_table(spark, sf_dir, "events")
    users = ev.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("purch_ts"),
        F.max("ts").alias("last_ts"),
    )
    users = users.select(
        (F.col("user_id") % 2).alias("grp"),
        F.datediff(
            F.coalesce(F.col("purch_ts"), F.col("last_ts")).cast("date"),
            F.col("first_ts").cast("date"),
        )
        .cast("long")
        .alias("dur"),
        F.when(F.col("purch_ts").isNull(), 0).otherwise(1).alias("ev"),
    )
    hist = users.groupBy("grp", "dur").agg(
        F.count("*").cast("long").alias("w"),
        F.sum("ev").cast("long").alias("d"),
    )
    times = (
        hist.groupBy("dur")
        .agg(F.sum("d").alias("dsum"))
        .filter(F.col("dsum") > 0)
        .select(F.col("dur").alias("t"))
    )
    cells = (
        times.join(hist, hist["dur"] >= times["t"])
        .groupBy("t")
        .agg(
            F.sum(F.when(F.col("grp") == 0, F.col("w")).otherwise(0))
            .cast("long")
            .alias("n1"),
            F.sum("w").cast("long").alias("nj"),
            F.sum(
                F.when(
                    (F.col("grp") == 0) & (F.col("dur") == F.col("t")),
                    F.col("d"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("d1"),
            F.sum(F.when(F.col("dur") == F.col("t"), F.col("d")).otherwise(0))
            .cast("long")
            .alias("dj"),
        )
    )
    e_term = (
        F.col("dj").cast("double")
        * F.col("n1").cast("double")
        / F.col("nj").cast("double")
    )
    v_term = F.when(
        F.col("nj") > 1,
        F.col("dj").cast("double")
        * F.col("n1").cast("double")
        * (F.col("nj") - F.col("n1")).cast("double")
        * (F.col("nj") - F.col("dj")).cast("double")
        / (
            F.col("nj").cast("double")
            * F.col("nj").cast("double")
            * (F.col("nj") - 1).cast("double")
        ),
    ).otherwise(F.lit(0.0))
    arrs = cells.agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("t"), e_term.alias("e")))
        ).alias("e_arr"),
        F.array_sort(
            F.collect_list(F.struct(F.col("t"), v_term.alias("v")))
        ).alias("v_arr"),
        F.sum("d1").cast("long").alias("o1"),
        F.sum(F.col("dj") - F.col("d1")).cast("long").alias("o2"),
    )
    folded = arrs.select(
        "o1",
        "o2",
        F.aggregate(
            F.col("e_arr"),
            F.lit(0.0),
            lambda acc, x: acc + x["e"],
        ).alias("e1"),
        F.aggregate(
            F.col("v_arr"),
            F.lit(0.0),
            lambda acc, x: acc + x["v"],
        ).alias("v"),
    )
    grp_counts = users.groupBy("grp").agg(F.count("*").alias("c"))
    n1_df = grp_counts.filter(F.col("grp") == 0).select(
        F.col("c").cast("long").alias("n1_users")
    )
    n2_df = grp_counts.filter(F.col("grp") == 1).select(
        F.col("c").cast("long").alias("n2_users")
    )
    return (
        folded.join(F.broadcast(n1_df))
        .join(F.broadcast(n2_df))
        .select(
            F.col("n1_users").alias("n1"),
            F.col("n2_users").alias("n2"),
            "o1",
            "o2",
            "e1",
            "v",
            (
                (F.col("o1").cast("double") - F.col("e1"))
                * (F.col("o1").cast("double") - F.col("e1"))
                / F.col("v")
            ).alias("chi2"),
        )
    )
