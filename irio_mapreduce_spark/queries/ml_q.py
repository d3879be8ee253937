"""ML-analytics catalog queries over ``embeddings``: fixed-point k-means
clustering and exact k-NN classification (``llm.clustering``). Both are
all-integer pipelines, so the DuckDB oracles replay the identical
arithmetic and the driver hash-compare is exact — see the module
docstring of ``llm.clustering`` for why a float formulation cannot make
that promise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from irio_mapreduce_spark.io import read_table
from irio_mapreduce_spark.llm.clustering import (
    KMEANS_SCALE,
    kmeans_fixed_point,
    knn_classify,
    scaled_vec,
)
from irio_mapreduce_spark.operators.barrier import barrier
from irio_mapreduce_spark.queries.catalog import register

_K = 8
_DIMS = 64

# Shared oracle fragments. All arithmetic is BIGINT: components fix-point
# scaled by floor(x * 1e6) (exact in both engines), distances are integer
# sums of squares, re-centering is integer sum // count (DuckDB's // and
# Spark's div both truncate toward zero — probed on negatives).
_SV = f"""
    sv AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(x::DOUBLE * {KMEANS_SCALE}) AS BIGINT)) AS s
      FROM embeddings)
"""

# One Lloyd's round: exact distances to the k current centroids, argmin
# with lowest-cid tie-break, then per-(cluster, dim) integer re-centering;
# clusters that captured no rows carry their previous centroid forward.
_KM_ROUND = f"""
    {{asg}} AS (
      SELECT vec_id, cid FROM (
        SELECT v.vec_id, c.cid,
               row_number() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY sum((v.s[i] - c.c[i]) * (v.s[i] - c.c[i])), c.cid
               ) AS rn
        FROM sv v, {{cent}} c, range(1, {_DIMS + 1}) t(i)
        GROUP BY v.vec_id, c.cid)
      WHERE rn = 1),
    {{out}} AS (
      SELECT cid, list(m ORDER BY i) AS c FROM (
        SELECT a.cid, t.i AS i,
               CAST(sum(v.s[t.i]) // count(*) AS BIGINT) AS m
        FROM {{asg}} a JOIN sv v USING (vec_id), range(1, {_DIMS + 1}) t(i)
        GROUP BY a.cid, t.i)
      GROUP BY cid
      UNION ALL
      SELECT cid, c FROM {{cent}}
      WHERE cid NOT IN (SELECT DISTINCT cid FROM {{asg}}))
"""


# Two full Lloyd's rounds replayed as chained CTEs over raw embeddings —
# shared verbatim by the batch entry and its streaming twin
# (stream_kmeans_model_rounds), whose WHOLE claim is bit-identical final
# assignments. The oracle derives everything (scaling, distances,
# re-centering) independently of either Spark implementation.
_KMEANS_2ROUND_ORACLE = f"""
    WITH {_SV},
    c0 AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid,
             s AS c
      FROM (SELECT vec_id, s FROM sv ORDER BY vec_id LIMIT {_K})),
    {_KM_ROUND.format(asg="a1", cent="c0", out="c1")},
    {_KM_ROUND.format(asg="a2", cent="c1", out="c2")}
    SELECT cid AS cluster, CAST(count(*) AS BIGINT) AS n,
           CAST(min(vec_id) AS BIGINT) AS min_vec_id,
           CAST(sum(vec_id) AS BIGINT) AS sum_vec_id
    FROM a2 GROUP BY cid
    """


@register("ml_kmeans_embeddings", oracle=_KMEANS_2ROUND_ORACLE)
def ml_kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two Lloyd's k-means rounds (k=8) over the embedding corpus in exact
    fixed-point arithmetic, deterministically seeded from the 8 lowest
    vec_ids, rolled up per cluster (size + id fingerprints so the driver
    compares the full assignment without 2000 output rows). Clustering is
    the backbone of mixture balancing and SemDeDup-style pruning at
    corpus scale; per-round shuffle budget (map-only assignment with
    plan-literal centroids; one k×dims-group re-centering exchange) and
    the bounded-collect contract are documented in
    ``llm.clustering.kmeans_fixed_point``. The oracle replays both rounds
    as chained CTEs over the identical integer arithmetic."""
    emb = read_table(spark, sf_dir, "embeddings")
    assigned = kmeans_fixed_point(
        emb, "embedding", "vec_id", k=_K, iterations=2
    )
    return assigned.groupBy(F.col("cluster")).agg(
        F.count("*").cast("long").alias("n"),
        F.min("id").cast("long").alias("min_vec_id"),
        F.sum("id").cast("long").alias("sum_vec_id"),
    )


@register("stream_kmeans_model_rounds", oracle=_KMEANS_2ROUND_ORACLE)
def stream_kmeans_model_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING k-MEANS MODEL MAINTENANCE — the steady-state *model*
    loop on the real streaming engine (r9/r10 verdict task): the scaled
    corpus replays as TWO time-ordered micro-batches
    (maxFilesPerTrigger=1), and a ``foreachBatch`` handler
    (``llm.clustering.kmeans_stream_round_handler``) executes exactly ONE
    Lloyd's round per micro-batch against a persisted centroid artifact,
    writing generation ``batch_id``'s centroids + assignment — rounds
    chained through the model store exactly the way the reference chains
    MapReduce batches through ``final_dest_dir_id``
    (common/common.proto:19; ClientMain.java submits the next batch on
    the previous one's output dir). Restart-idempotence (re-run of a
    micro-batch reads generations below it, overwrites only its own) is
    the streaming twin of the reference's first-wins commit
    (DistrStorage.java:213-233), pinned by tests/test_streaming.py.

    The promise is EXACTNESS, not approximation: batch 0 initializes
    from the k lowest vec_ids, so after the 2-batch replay the final
    assignment is bit-identical to the batch 2-iteration
    ``ml_kmeans_embeddings`` — both entries share one DuckDB oracle that
    replays Lloyd's independently from raw embeddings. At 100 TB the
    per-round scan is the honest cost of a Lloyd's iteration anywhere;
    the streaming form adds none (assignment stays map-only against the
    plan-literal centroids, re-centering stays a k×dims-group shuffle)
    and buys crash-resumable rounds with the model store as the only
    cross-round state."""
    import os
    import tempfile

    from irio_mapreduce_spark.llm.clustering import (
        kmeans_stream_round_handler,
    )
    from irio_mapreduce_spark.streaming.ops import _write_replay_sequenced, drain

    emb = read_table(spark, sf_dir, "embeddings")
    sv = emb.select(
        F.col("vec_id").alias("_id"),
        scaled_vec(F.col("embedding")).alias("_sv"),
    )
    run_dir = tempfile.mkdtemp(prefix="stream_kmeans_")
    replay = os.path.join(run_dir, "replay")
    _write_replay_sequenced(
        sv.withColumn("_round", F.lit(0)).unionAll(
            sv.withColumn("_round", F.lit(1))
        ),
        "_round",
        2,
        replay,
    )
    stream = (
        spark.readStream.schema("_id long, _sv array<bigint>")
        .option("maxFilesPerTrigger", 1)
        .parquet(replay)
    )
    model_dir = os.path.join(run_dir, "model")
    drain(
        stream,
        kmeans_stream_round_handler(model_dir, _K),
        checkpoint=os.path.join(run_dir, "ck"),
    )
    return (
        spark.read.parquet(os.path.join(model_dir, "asg", "r1"))
        .groupBy(F.col("_c").alias("cluster"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.min("_id").cast("long").alias("min_vec_id"),
            F.sum("_id").cast("long").alias("sum_vec_id"),
        )
    )


@register(
    "ml_knn_classify",
    oracle=f"""
    WITH {_SV},
    q AS (SELECT vec_id AS query_id, s AS qs FROM sv WHERE vec_id < 20),
    c AS (SELECT v.vec_id AS cid, e.label AS lab, v.s AS cs
          FROM sv v JOIN embeddings e USING (vec_id) WHERE v.vec_id >= 20),
    scored AS (
      SELECT q.query_id, c.cid, c.lab,
             CAST(sum((c.cs[i] - q.qs[i]) * (c.cs[i] - q.qs[i])) AS BIGINT)
               AS d
      FROM q, c, range(1, {_DIMS + 1}) t(i)
      GROUP BY q.query_id, c.cid, c.lab),
    topk AS (
      SELECT query_id, lab FROM (
        SELECT query_id, lab,
               row_number() OVER (PARTITION BY query_id ORDER BY d, cid) AS rn
        FROM scored)
      WHERE rn <= 5),
    votes AS (
      SELECT query_id, lab, count(*) AS votes
      FROM topk GROUP BY query_id, lab)
    SELECT query_id, lab AS predicted_label,
           CAST(votes AS BIGINT) AS votes
    FROM (SELECT query_id, lab, votes,
                 row_number() OVER (
                   PARTITION BY query_id ORDER BY votes DESC, lab) AS rv
          FROM votes)
    WHERE rv = 1
    """,
)
def ml_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 5-NN majority-vote label prediction for a 20-query batch
    against the rest of the embedding corpus — the label-propagation /
    quality-transfer primitive of a curation pipeline (label a sample by
    hand, k-NN the rest). Integer distances and integer vote ranks make
    neighbor sets cross-engine exact; the broadcast-queries scale shape
    (and the ANN-shortlist path when the batch outgrows a broadcast) is
    documented in ``llm.clustering.knn_classify``."""
    emb = read_table(spark, sf_dir, "embeddings")
    return knn_classify(
        emb.filter(F.col("vec_id") >= 20),
        emb.filter(F.col("vec_id") < 20),
        "embedding",
        "vec_id",
        "label",
        k=5,
    )


def _labeled_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings as (vec_id, pos, fixed-point components). NULL labels
    are excluded on BOTH engines (a NULL would otherwise coerce into the
    negative class via ``bool(None)`` and corrupt the fit)."""
    emb = read_table(spark, sf_dir, "embeddings")
    return emb.filter(F.col("label").isNotNull()).select(
        "vec_id",
        (F.col("label") >= 5).alias("pos"),
        scaled_vec(F.col("embedding")).alias("s"),
    )


def _fit_centroid_rule(sv: DataFrame) -> tuple[list[int], int]:
    """Driver-side fit of the two-class fixed-point centroid rule from
    2 x dims collected BIGINT moments (the IVF-fit contract): returns the
    Fisher direction w = mu_pos - mu_neg and the doubled midpoint
    threshold t2 = w·mu_pos + w·mu_neg (compare ``2*score >= t2``).
    Integer division truncates toward zero to match Spark ``div`` /
    DuckDB ``//`` exactly."""
    sums = sv.groupBy("pos").agg(
        F.count("*").alias("n"),
        *[F.sum(F.element_at("s", i + 1)).alias(f"c{i}") for i in range(_DIMS)],
    )

    def trunc_div(a: int, b: int) -> int:
        q = abs(a) // abs(b)
        return -q if (a < 0) != (b < 0) else q

    stats = {bool(r["pos"]): r for r in sums.collect()}
    if set(stats) != {False, True}:
        raise ValueError(
            "centroid-rule fit needs BOTH classes present; "
            f"found sides: {sorted(stats)}"
        )
    mu = {
        side: [trunc_div(stats[side][f"c{i}"], stats[side]["n"]) for i in range(_DIMS)]
        for side in (False, True)
    }
    w = [mu[True][i] - mu[False][i] for i in range(_DIMS)]
    t2 = sum(wi * m1 for wi, m1 in zip(w, mu[True])) + sum(
        wi * m0 for wi, m0 in zip(w, mu[False])
    )
    return w, t2


def _score_expr(w: list[int]):
    """Map-only integer dot product against the plan-literal weights."""
    w_lit = F.array(*[F.lit(v).cast("long") for v in w])
    return F.aggregate(
        F.zip_with(F.col("s"), w_lit, lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


# Shared oracle fragment: fixed-point centroid-rule fit + per-row integer
# scores (used by the classifier AND the calibration entry — one model,
# two evaluations).
_FIT_SQL = f"""{_SV},
    lb AS (SELECT v.vec_id, v.s, (e.label >= 5) AS pos
           FROM sv v JOIN embeddings e USING (vec_id)
           WHERE e.label IS NOT NULL),
    m AS (SELECT pos, t.i AS i,
                 CAST(sum(s[t.i]) AS BIGINT) // CAST(count(*) AS BIGINT)
                   AS mu
          FROM lb, range(1, {_DIMS + 1}) t(i)
          GROUP BY pos, t.i),
    w AS (SELECT m1.i AS i, m1.mu - m0.mu AS wi, m1.mu AS mu1, m0.mu AS mu0
          FROM m m1 JOIN m m0 ON m1.i = m0.i AND m1.pos AND NOT m0.pos),
    sc AS (SELECT l.vec_id, l.pos,
                  CAST(sum(w.wi * l.s[w.i]) AS BIGINT) AS score
           FROM lb l, w GROUP BY l.vec_id, l.pos)"""


@register(
    "ml_linear_score_classify",
    oracle=f"""
    WITH {_FIT_SQL},
    thr AS (SELECT CAST(sum(wi * mu1) AS BIGINT)
                   + CAST(sum(wi * mu0) AS BIGINT) AS t2 FROM w),
    pr AS (SELECT vec_id, pos,
                  (2 * score >= (SELECT t2 FROM thr)) AS pred
           FROM sc)
    SELECT CAST(pos AS INTEGER) AS true_side,
           CAST(pred AS INTEGER) AS pred_side,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(vec_id) AS BIGINT) AS min_vec_id,
           CAST(sum(vec_id) AS BIGINT) AS sum_vec_id
    FROM pr GROUP BY pos, pred
    """,
)
def ml_linear_score_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch MODEL INFERENCE as a map-only scan — the shape every scored
    curation pipeline needs (quality classifiers, fastText-style filters):
    fit a linear decision rule on the driver from BOUNDED statistics, then
    score 100% of the data with plan-literal weights and zero shuffle
    until the final 4-cell confusion rollup.

    The model is the two-class nearest-centroid rule (Fisher direction
    w = mu_pos - mu_neg, threshold at the midpoint projection): classes
    are label >= 5 vs < 5, trained on exact fixed-point BIGINT moments
    (``scaled_vec`` components; sums then truncating integer division —
    Spark ``div`` / DuckDB ``//`` / the driver-side replication all
    truncate toward zero). Because training statistics, weights, and
    scores are ALL integers, the oracle replays the identical model and
    the confusion matrix hash-matches exactly.

    Scale rationale: the "training" aggregate collects exactly 2 x dims
    longs to the driver (the IVF-fit contract); inference is
    ``aggregate(zip_with(s, W, *), +)`` — one whole-stage-codegen'd pass,
    weights live in the plan, nothing is ever joined per-row. Magnitudes:
    |score| <= dims * 2 * SCALE^2 * |x|^2 — far inside BIGINT for any
    unit-normalized embedding."""
    sv = _labeled_scaled(spark, sf_dir)
    w, t2 = _fit_centroid_rule(sv)
    score = _score_expr(w)
    return (
        sv.select(
            "vec_id",
            F.col("pos").cast("int").alias("true_side"),
            ((2 * score) >= F.lit(t2)).cast("int").alias("pred_side"),
        )
        .groupBy("true_side", "pred_side")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.min("vec_id").cast("long").alias("min_vec_id"),
            F.sum("vec_id").cast("long").alias("sum_vec_id"),
        )
    )


@register(
    "ml_calibration_bins",
    oracle=f"""
    WITH {_FIT_SQL},
    ranked AS (
      SELECT pos, score,
             ntile(10) OVER (ORDER BY score, vec_id) AS bin
      FROM sc)
    SELECT bin,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
           CAST(min(score) AS BIGINT) AS min_score,
           CAST(max(score) AS BIGINT) AS max_score
    FROM ranked GROUP BY bin
    """,
)
def ml_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MODEL CALIBRATION table (reliability-diagram data) for the linear
    scorer: decile bins of the integer score with the positive count per
    bin — a well-calibrated monotone scorer shows n_pos rising with the
    bin; the MLOps evaluation every scored-curation pipeline runs next to
    the confusion matrix. Same driver-fit model and map-only scoring as
    ``ml_linear_score_classify`` (one fit, two evaluations — shared
    ``_fit_centroid_rule`` / ``_FIT_SQL``), binned by the distributed
    ``global_rank`` + integer NTILE (never the single-reducer window;
    grid-pinned equivalence), so every output cell is an exact integer."""
    from irio_mapreduce_spark.operators.topk import global_rank, ntile_from_rank

    sv = _labeled_scaled(spark, sf_dir)
    w, _ = _fit_centroid_rule(sv)
    scored = sv.select(
        "vec_id",
        F.col("pos").cast("int").alias("posi"),
        _score_expr(w).alias("score"),
    )
    ranked = global_rank(scored, ["score", "vec_id"], rank_col="_r")
    n_df = ranked.agg(F.count("*").alias("_n"))
    return (
        ranked.join(F.broadcast(n_df))
        .select(
            "posi",
            "score",
            ntile_from_rank(F.col("_r"), F.col("_n"), 10).alias("bin"),
        )
        .groupBy("bin")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("posi").cast("long").alias("n_pos"),
            F.min("score").cast("long").alias("min_score"),
            F.max("score").cast("long").alias("max_score"),
        )
    )


@register(
    "ml_auc_exact",
    oracle=f"""
    WITH {_FIT_SQL},
    per_s AS (
      SELECT score,
             CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS npos
      FROM sc GROUP BY score),
    cum AS (
      SELECT score, cnt, npos,
             CAST(coalesce(sum(cnt) OVER (ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS before
      FROM per_s),
    tot AS (
      SELECT CAST(sum(npos) AS BIGINT) AS n1,
             CAST(sum(cnt) - sum(npos) AS BIGINT) AS n0
      FROM per_s)
    SELECT n1, n0,
           CAST(sum(npos * (2 * before + cnt + 1)) - n1 * (n1 + 1)
                AS BIGINT) AS auc_num,
           CAST(2 * n1 * n0 AS BIGINT) AS auc_den
    FROM cum, tot GROUP BY n1, n0
    """,
)
def ml_auc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT ROC AUC for the linear scorer — the third leg of the model-
    evaluation trio (confusion matrix, calibration bins, AUC), via the
    Mann–Whitney identity ``AUC = (R1 - n1(n1+1)/2) / (n1·n0)`` with
    tie-AVERAGED ranks, emitted as the exact integer fraction
    ``auc_num / auc_den`` (denominator doubled so tie-averages stay
    integral): for each distinct score, the doubled average rank of its
    block is ``2·(rows before) + cnt + 1``, so
    ``auc_num = Σ_blocks npos·(2·before + cnt + 1) − n1(n1+1)`` — no
    float division anywhere, ties handled exactly (a half-credit pair
    contributes 1 to the doubled numerator).

    Scale shape (the KS pattern): scores aggregate to ONE row per
    distinct value first, so the ordered cumulative window runs over the
    compacted score domain, not data rows; the model is the shared
    driver-fit rule (one fit, three evaluations)."""
    sv = _labeled_scaled(spark, sf_dir)
    w, _ = _fit_centroid_rule(sv)
    scored = sv.select(
        F.col("pos").cast("int").alias("posi"), _score_expr(w).alias("score")
    )
    per_s = scored.groupBy("score").agg(
        F.count("*").cast("long").alias("cnt"),
        F.sum("posi").cast("long").alias("npos"),
    ).persist()  # the cumulative window and the totals both read it
    from pyspark.sql import Window as W

    run_before = W.orderBy("score").rowsBetween(
        W.unboundedPreceding, -1
    )
    cum = per_s.withColumn(
        "before",
        F.coalesce(F.sum("cnt").over(run_before), F.lit(0)).cast("long"),
    )
    tot = per_s.agg(
        F.sum("npos").cast("long").alias("n1"),
        (F.sum("cnt") - F.sum("npos")).cast("long").alias("n0"),
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("n1", "n0")
        .agg(
            (
                F.sum(
                    F.col("npos") * (2 * F.col("before") + F.col("cnt") + 1)
                )
                - F.col("n1") * (F.col("n1") + 1)
            )
            .cast("long")
            .alias("auc_num"),
            (2 * F.col("n1") * F.col("n0")).cast("long").alias("auc_den"),
        )
        .select("n1", "n0", "auc_num", "auc_den")
    )


@register(
    "ml_naive_bayes",
    oracle="""
    WITH pts AS (
      SELECT l_returnflag AS cls, l_linestatus AS f_status,
             CASE WHEN l_quantity <= 25 THEN 'lo' ELSE 'hi' END AS f_qty
      FROM lineitem),
    prior AS (SELECT cls, count(*) AS n_c FROM pts GROUP BY cls),
    fs AS (SELECT cls, f_status, count(*) AS n_sc FROM pts GROUP BY cls, f_status),
    fq AS (SELECT cls, f_qty, count(*) AS n_qc FROM pts GROUP BY cls, f_qty),
    cells AS (SELECT DISTINCT f_status, f_qty FROM pts),
    scored AS (
      SELECT c.f_status, c.f_qty, p.cls,
             CAST(p.n_c AS HUGEINT)
               * (COALESCE(s.n_sc, 0) + 1) * (COALESCE(q.n_qc, 0) + 1)
               AS num,
             CAST(p.n_c + 2 AS HUGEINT) * (p.n_c + 2) AS den
      FROM cells c
      CROSS JOIN prior p
      LEFT JOIN fs s ON s.cls = p.cls AND s.f_status = c.f_status
      LEFT JOIN fq q ON q.cls = p.cls AND q.f_qty = c.f_qty),
    ranked AS (
      SELECT a.f_status, a.f_qty, a.cls,
             row_number() OVER (
               PARTITION BY a.f_status, a.f_qty
               ORDER BY (SELECT count(*) FROM scored b
                         WHERE b.f_status = a.f_status AND b.f_qty = a.f_qty
                           AND (b.num * a.den > a.num * b.den
                                OR (b.num * a.den = a.num * b.den
                                    AND b.cls < a.cls))) ASC, a.cls
             ) AS rk
      FROM scored a),
    counts AS (
      SELECT f_status, f_qty, CAST(count(*) AS BIGINT) AS n_rows
      FROM pts GROUP BY f_status, f_qty)
    SELECT r.f_status, r.f_qty, r.cls AS predicted_flag, c.n_rows
    FROM ranked r JOIN counts c
      ON c.f_status = r.f_status AND c.f_qty = r.f_qty
    WHERE r.rk = 1
    """,
)
def ml_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-rational Naive Bayes: categorical features (linestatus,
    quantity band) predict the return flag with Laplace-smoothed
    likelihoods — and the whole argmax is INTEGER arithmetic, so the
    driver hash-compare is exact where a log-space formulation (the
    textbook float path) could never be (ln is banned from hashed
    outputs; cross-engine float argmax flips ranks on ties).

    score(c | s, q) ∝ n_c · (n_sc+1)/(n_c+2) · (n_qc+1)/(n_c+2); the
    denominator (n_c+2)² makes score comparison a CROSS-MULTIPLICATION
    of integers up to ~n⁵ — beyond BIGINT at sf0.1, so both sides carry
    the products in 128-bit-capable types (Spark DECIMAL(38,0), DuckDB
    HUGEINT). Ties break lexicographically by class. Training is ONE
    grouped aggregate (the 3x2x2 contingency table; priors and
    likelihood counts are its margins, derived driver-side from the 12
    rows) — at 100 TB the model table is still 12 rows; scoring any
    table is a map-only broadcast join, same shape as
    ml_linear_score_classify.

    The oracle restates the argmax as an explicit dominance count (class
    beaten by none) — a deliberately different formulation of the same
    exact comparison."""
    li = read_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("cls"),
        F.col("l_linestatus").alias("f_status"),
        F.when(F.col("l_quantity") <= 25, F.lit("lo"))
        .otherwise(F.lit("hi"))
        .alias("f_qty"),
    )
    # ONE grouped pass compacts the labeled points to the full (cls,
    # status, band) contingency table — <= 3x2x2 = 12 rows — and every
    # model relation (class priors, per-feature likelihood counts, the
    # observed feature cells, per-cell row counts) is derived from those
    # 12 rows DRIVER-SIDE. One scan, one shuffle, no cache to leak (the
    # r6 ADVICE item), and no per-aggregate job round trips (the first
    # fix materialized four aggregates as four separate jobs — 2.6x the
    # entry's cost at sf0.1). Bounded driver artifact, same class as the
    # k-means centroid collects.
    table = li.groupBy("cls", "f_status", "f_qty").agg(
        F.count("*").alias("n")
    ).collect()

    def _mk(rows, schema):
        return spark.createDataFrame(rows, schema)

    agg: dict = {}
    for r in table:
        agg[(r["cls"], r["f_status"], r["f_qty"])] = r["n"]
    classes = sorted({c for c, _, _ in agg})
    prior = _mk(
        [
            (c, sum(n for (cc, _, _), n in agg.items() if cc == c))
            for c in classes
        ],
        "cls string, n_c long",
    )
    fs = _mk(
        sorted(
            (
                (c, s, sum(n for (cc, ss, _), n in agg.items() if cc == c and ss == s))
                for c, s in {(cc, ss) for cc, ss, _ in agg}
            )
        ),
        "cls string, f_status string, n_sc long",
    )
    fq = _mk(
        sorted(
            (
                (c, q, sum(n for (cc, _, qq), n in agg.items() if cc == c and qq == q))
                for c, q in {(cc, qq) for cc, _, qq in agg}
            )
        ),
        "cls string, f_qty string, n_qc long",
    )
    cells = _mk(
        sorted({(s, q) for _, s, q in agg}), "f_status string, f_qty string"
    )
    dec = "decimal(38,0)"
    scored = (
        cells.crossJoin(F.broadcast(prior))
        .join(F.broadcast(fs), ["cls", "f_status"], "left")
        .join(F.broadcast(fq), ["cls", "f_qty"], "left")
        .select(
            "f_status",
            "f_qty",
            "cls",
            (
                F.col("n_c").cast(dec)
                * (F.coalesce(F.col("n_sc"), F.lit(0)) + 1)
                * (F.coalesce(F.col("n_qc"), F.lit(0)) + 1)
            ).alias("num"),
            ((F.col("n_c") + 2).cast(dec) * (F.col("n_c") + 2)).alias("den"),
        )
    )
    s2 = scored.select(
        F.col("f_status").alias("b_status"),
        F.col("f_qty").alias("b_qty"),
        F.col("cls").alias("b_cls"),
        F.col("num").alias("b_num"),
        F.col("den").alias("b_den"),
    )
    # argmax as a dominance count over the tiny scored model (12 rows):
    # class kept iff NO other class strictly beats it (cross-multiplied
    # exact comparison), ties broken lexicographically.
    beaten = (
        scored.join(
            F.broadcast(s2),
            (F.col("f_status") == F.col("b_status"))
            & (F.col("f_qty") == F.col("b_qty"))
            & (
                (F.col("b_num") * F.col("den") > F.col("num") * F.col("b_den"))
                | (
                    (F.col("b_num") * F.col("den") == F.col("num") * F.col("b_den"))
                    & (F.col("b_cls") < F.col("cls"))
                )
            ),
            "left_anti",
        )
        .select("f_status", "f_qty", F.col("cls").alias("predicted_flag"))
    )
    counts = _mk(
        sorted(
            (
                (s, q, sum(n for (_, ss, qq), n in agg.items() if ss == s and qq == q))
                for s, q in {(ss, qq) for _, ss, qq in agg}
            )
        ),
        "f_status string, f_qty string, n_rows long",
    )
    return beaten.join(counts, ["f_status", "f_qty"])


@register(
    "ml_decision_stump",
    oracle="""
    WITH pts AS (
      SELECT CAST(l_quantity AS BIGINT) AS q,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS pos
      FROM lineitem),
    per_q AS (
      SELECT q, count(*) AS n_q, sum(pos) AS pos_q FROM pts GROUP BY q),
    cum AS (
      SELECT q,
             sum(n_q) OVER w AS n_l, sum(pos_q) OVER w AS pos_l,
             (SELECT count(*) FROM pts) AS n,
             (SELECT sum(pos) FROM pts) AS pos_tot
      FROM per_q WINDOW w AS (ORDER BY q)),
    cand AS (
      SELECT q AS t, n_l, pos_l, n - n_l AS n_r, pos_tot - pos_l AS pos_r
      FROM cum WHERE n_l > 0 AND n - n_l > 0),
    scored AS (
      SELECT t, n_l, n_r, pos_l, pos_r,
             2 * (CAST(pos_l AS HUGEINT) * (n_l - pos_l) * n_r
                  + CAST(pos_r AS HUGEINT) * (n_r - pos_r) * n_l) AS num,
             CAST(n_l AS HUGEINT) * n_r AS den
      FROM cand)
    SELECT CAST(a.t AS BIGINT) AS best_threshold,
           CAST(a.n_l AS BIGINT) AS n_left,
           CAST(a.n_r AS BIGINT) AS n_right,
           CAST(a.pos_l AS BIGINT) AS pos_left,
           CAST(a.pos_r AS BIGINT) AS pos_right
    FROM scored a
    WHERE NOT EXISTS (
      SELECT 1 FROM scored b
      WHERE b.num * a.den < a.num * b.den
         OR (b.num * a.den = a.num * b.den AND b.t < a.t))
    """,
)
def ml_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE-LEVEL decision tree (CART stump): the best single quantity
    threshold separating returned from kept lineitems, chosen by MINIMUM
    Gini-weighted impurity — and the whole argmin is EXACT integer
    arithmetic. Per-leaf Gini numerator collapses to 2·pos·neg (binary
    target), so score(t) = 2·(posL·negL·nR + posR·negR·nL) / (nL·nR);
    thresholds compare by cross-multiplication (products reach ~n^5 —
    DECIMAL(38) on the Spark side, HUGEINT in DuckDB), ties break at the
    smallest threshold. No float impurity anywhere: a float argmin flips
    winners across engines when two splits are near-equal.

    Shape: one grouped aggregate compacts 100 TB of rows to |distinct
    quantity| = 50 rows; the cumulative window, candidate scoring, and
    the dominance anti-join all run on that 50-row frame (broadcast,
    sub-millisecond) — the same compact-the-domain-first pattern as the
    KS test and exact AUC. Greedy deeper trees = recurse per leaf, one
    grouped pass per level."""
    li = read_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("q"),
        F.when(F.col("l_returnflag") == "R", F.lit(1))
        .otherwise(F.lit(0))
        .alias("pos"),
    )
    per_q = li.groupBy("q").agg(
        F.count("*").alias("n_q"), F.sum("pos").alias("pos_q")
    )
    w = Window.orderBy("q").rowsBetween(Window.unboundedPreceding, 0)
    tot = li.agg(
        F.count("*").alias("n"), F.sum("pos").alias("pos_tot")
    )
    cum = (
        per_q.withColumn("n_l", F.sum("n_q").over(w))
        .withColumn("pos_l", F.sum("pos_q").over(w))
        .crossJoin(F.broadcast(tot))
    )
    dec = "decimal(38,0)"
    cand = cum.filter(
        (F.col("n_l") > 0) & (F.col("n") - F.col("n_l") > 0)
    ).select(
        F.col("q").alias("t"),
        "n_l",
        "pos_l",
        (F.col("n") - F.col("n_l")).alias("n_r"),
        (F.col("pos_tot") - F.col("pos_l")).alias("pos_r"),
    )
    scored = cand.select(
        "t",
        "n_l",
        "n_r",
        "pos_l",
        "pos_r",
        (
            F.lit(2).cast(dec)
            * (
                F.col("pos_l").cast(dec) * (F.col("n_l") - F.col("pos_l")) * F.col("n_r")
                + F.col("pos_r").cast(dec) * (F.col("n_r") - F.col("pos_r")) * F.col("n_l")
            )
        ).alias("num"),
        (F.col("n_l").cast(dec) * F.col("n_r")).alias("den"),
    )
    other = scored.select(
        F.col("t").alias("b_t"),
        F.col("num").alias("b_num"),
        F.col("den").alias("b_den"),
    )
    best = scored.join(
        F.broadcast(other),
        (F.col("b_num") * F.col("den") < F.col("num") * F.col("b_den"))
        | (
            (F.col("b_num") * F.col("den") == F.col("num") * F.col("b_den"))
            & (F.col("b_t") < F.col("t"))
        ),
        "left_anti",
    )
    return best.select(
        F.col("t").cast("long").alias("best_threshold"),
        F.col("n_l").cast("long").alias("n_left"),
        F.col("n_r").cast("long").alias("n_right"),
        F.col("pos_l").cast("long").alias("pos_left"),
        F.col("pos_r").cast("long").alias("pos_right"),
    )


def _tree_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared labeled-point projection of the two depth-2 tree entries."""
    return read_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("q"),
        F.floor(F.col("l_discount") * 100 + 0.5).cast("long").alias("d"),
        F.when(F.col("l_returnflag") == "R", F.lit(1))
        .otherwise(F.lit(0))
        .alias("pos"),
    )


_TREE_CTES = """pts AS (
      SELECT CAST(l_quantity AS BIGINT) AS q,
             CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS d,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS pos
      FROM lineitem),
    per_q AS (
      SELECT q, count(*) AS n_q, sum(pos) AS pos_q FROM pts GROUP BY q),
    cum AS (
      SELECT q,
             sum(n_q) OVER w AS n_l, sum(pos_q) OVER w AS pos_l,
             (SELECT count(*) FROM pts) AS n,
             (SELECT sum(pos) FROM pts) AS pos_tot
      FROM per_q WINDOW w AS (ORDER BY q)),
    cand0 AS (
      SELECT q AS t, n_l, pos_l, n - n_l AS n_r, pos_tot - pos_l AS pos_r
      FROM cum WHERE n_l > 0 AND n - n_l > 0),
    scored0 AS (
      SELECT t,
             2 * (CAST(pos_l AS HUGEINT) * (n_l - pos_l) * n_r
                  + CAST(pos_r AS HUGEINT) * (n_r - pos_r) * n_l) AS num,
             CAST(n_l AS HUGEINT) * n_r AS den
      FROM cand0),
    best0 AS (
      SELECT a.t FROM scored0 a
      WHERE NOT EXISTS (
        SELECT 1 FROM scored0 b
        WHERE b.num * a.den < a.num * b.den
           OR (b.num * a.den = a.num * b.den AND b.t < a.t))),
    sided AS (
      SELECT CASE WHEN p.q <= b.t THEN 'le' ELSE 'gt' END AS side, p.d, p.pos
      FROM pts p, best0 b),
    per_d AS (
      SELECT side, d, count(*) AS n_d, sum(pos) AS pos_d
      FROM sided GROUP BY side, d),
    cum2 AS (
      SELECT side, d,
             sum(n_d) OVER w2 AS n_l, sum(pos_d) OVER w2 AS pos_l,
             sum(n_d) OVER ws AS n, sum(pos_d) OVER ws AS pos_tot
      FROM per_d
      WINDOW w2 AS (PARTITION BY side ORDER BY d),
             ws AS (PARTITION BY side)),
    cand2 AS (
      SELECT side, d AS t, n_l, pos_l, n - n_l AS n_r, pos_tot - pos_l AS pos_r
      FROM cum2 WHERE n_l > 0 AND n - n_l > 0),
    scored2 AS (
      SELECT side, t, n_l, n_r, pos_l, pos_r,
             2 * (CAST(pos_l AS HUGEINT) * (n_l - pos_l) * n_r
                  + CAST(pos_r AS HUGEINT) * (n_r - pos_r) * n_l) AS num,
             CAST(n_l AS HUGEINT) * n_r AS den
      FROM cand2)"""


@register(
    "ml_decision_tree_depth2",
    oracle=f"""
    WITH {_TREE_CTES}
    SELECT a.side,
           CAST(b0.t AS BIGINT) AS root_threshold,
           CAST(a.t AS BIGINT) AS best_discount_pct,
           CAST(a.n_l AS BIGINT) AS n_left,
           CAST(a.n_r AS BIGINT) AS n_right,
           CAST(a.pos_l AS BIGINT) AS pos_left,
           CAST(a.pos_r AS BIGINT) AS pos_right
    FROM scored2 a, best0 b0
    WHERE NOT EXISTS (
      SELECT 1 FROM scored2 b
      WHERE b.side = a.side
        AND (b.num * a.den < a.num * b.den
             OR (b.num * a.den = a.num * b.den AND b.t < a.t)))
    """,
)
def ml_decision_tree_depth2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-LEVEL decision tree by recursive exact-Gini splitting — the
    multi-level extension the stump entry's docstring promises ("greedy
    deeper trees = recurse per leaf, one grouped pass per level"): level
    1 re-finds the stump's best quantity threshold; level 2 then finds,
    WITHIN EACH root leaf, the best discount-percent threshold by the
    same minimum-weighted-Gini criterion — a genuine 2-feature CART path
    (quantity at the root, discount at depth 2), every comparison exact
    integer cross-multiplication (DECIMAL(38) / HUGEINT carry products
    to ~n^5; ties break at the smallest threshold per leaf, so both
    engines pick identical splits with no float impurity anywhere).

    Scale shape = exactly one grouped pass per level, the CART recursion
    written as dataflow: pass 1 compacts 100 TB to |distinct quantity|
    rows; the 1-row best root broadcasts back onto the points (map-side,
    no shuffle of the broadcast); pass 2 compacts to |sides x distinct
    discount| rows (<= 2·11 here); all scoring/dominance runs on those
    broadcast-sized frames. Depth k = k chained passes of the same
    shape. Cites the stump entry (`ml_decision_stump`) for the
    exactness argument and per-leaf Gini algebra."""
    li = _tree_points(spark, sf_dir)
    dec = "decimal(38,0)"

    def _scored(cand: DataFrame) -> DataFrame:
        return cand.select(
            *cand.columns,
            (
                F.lit(2).cast(dec)
                * (
                    F.col("pos_l").cast(dec)
                    * (F.col("n_l") - F.col("pos_l"))
                    * F.col("n_r")
                    + F.col("pos_r").cast(dec)
                    * (F.col("n_r") - F.col("pos_r"))
                    * F.col("n_l")
                )
            ).alias("num"),
            (F.col("n_l").cast(dec) * F.col("n_r")).alias("den"),
        )

    # -- level 1: best quantity threshold (same pass as ml_decision_stump)
    per_q = li.groupBy("q").agg(
        F.count("*").alias("n_q"), F.sum("pos").alias("pos_q")
    )
    w1 = Window.orderBy("q").rowsBetween(Window.unboundedPreceding, 0)
    tot = li.agg(F.count("*").alias("n"), F.sum("pos").alias("pos_tot"))
    cand0 = (
        per_q.withColumn("n_l", F.sum("n_q").over(w1))
        .withColumn("pos_l", F.sum("pos_q").over(w1))
        .crossJoin(F.broadcast(tot))
        .filter((F.col("n_l") > 0) & (F.col("n") - F.col("n_l") > 0))
        .select(
            F.col("q").alias("t"),
            "n_l",
            "pos_l",
            (F.col("n") - F.col("n_l")).alias("n_r"),
            (F.col("pos_tot") - F.col("pos_l")).alias("pos_r"),
        )
    )
    s0 = _scored(cand0)
    o0 = s0.select(
        F.col("t").alias("b_t"), F.col("num").alias("b_num"), F.col("den").alias("b_den")
    )
    best0 = s0.join(
        F.broadcast(o0),
        (F.col("b_num") * F.col("den") < F.col("num") * F.col("b_den"))
        | (
            (F.col("b_num") * F.col("den") == F.col("num") * F.col("b_den"))
            & (F.col("b_t") < F.col("t"))
        ),
        "left_anti",
    ).select(F.col("t").alias("root_t"))

    # -- level 2: per root leaf, best discount threshold (one grouped pass)
    sided = li.crossJoin(F.broadcast(best0)).select(
        F.when(F.col("q") <= F.col("root_t"), F.lit("le"))
        .otherwise(F.lit("gt"))
        .alias("side"),
        "d",
        "pos",
        "root_t",
    )
    per_d = sided.groupBy("side", "d").agg(
        F.count("*").alias("n_d"),
        F.sum("pos").alias("pos_d"),
        F.max("root_t").alias("root_t"),
    )
    w2 = Window.partitionBy("side").orderBy("d").rowsBetween(
        Window.unboundedPreceding, 0
    )
    ws = Window.partitionBy("side")
    cand2 = (
        per_d.withColumn("n_l", F.sum("n_d").over(w2))
        .withColumn("pos_l", F.sum("pos_d").over(w2))
        .withColumn("n", F.sum("n_d").over(ws))
        .withColumn("pos_tot", F.sum("pos_d").over(ws))
        .filter((F.col("n_l") > 0) & (F.col("n") - F.col("n_l") > 0))
        .select(
            "side",
            "root_t",
            F.col("d").alias("t"),
            "n_l",
            "pos_l",
            (F.col("n") - F.col("n_l")).alias("n_r"),
            (F.col("pos_tot") - F.col("pos_l")).alias("pos_r"),
        )
    )
    s2 = _scored(cand2)
    o2 = s2.select(
        F.col("side").alias("b_side"),
        F.col("t").alias("b_t"),
        F.col("num").alias("b_num"),
        F.col("den").alias("b_den"),
    )
    best2 = s2.join(
        F.broadcast(o2),
        (F.col("b_side") == F.col("side"))
        & (
            (F.col("b_num") * F.col("den") < F.col("num") * F.col("b_den"))
            | (
                (F.col("b_num") * F.col("den") == F.col("num") * F.col("b_den"))
                & (F.col("b_t") < F.col("t"))
            )
        ),
        "left_anti",
    )
    return best2.select(
        "side",
        F.col("root_t").cast("long").alias("root_threshold"),
        F.col("t").cast("long").alias("best_discount_pct"),
        F.col("n_l").cast("long").alias("n_left"),
        F.col("n_r").cast("long").alias("n_right"),
        F.col("pos_l").cast("long").alias("pos_left"),
        F.col("pos_r").cast("long").alias("pos_right"),
    )


_PCA_ROUNDS = 8


def _pca_oracle() -> str:
    """Unrolled fixed-round power iteration (recursive CTEs can't nest
    aggregates; at a FIXED round count unrolling is the plain-SQL
    form). Built programmatically so the round count stays one
    constant shared with the Spark side."""
    ctes = ["v0 AS (SELECT i, CAST(1000000 AS HUGEINT) AS v FROM s1)"]
    for r in range(1, _PCA_ROUNDS + 1):
        # MATERIALIZED is load-bearing: each v references its x twice
        # (projection + the max() scalar subquery) and each x joins the
        # previous v — inlined, the chain re-evaluates ~9x per round
        # (measured: 3.4 s at 6 rounds, 33 s at 7), materialized it is
        # milliseconds flat.
        ctes.append(
            f"x{r} AS MATERIALIZED (SELECT m.i, sum(m.val * v{r-1}.v) AS x "
            f"FROM m JOIN v{r-1} ON m.j = v{r-1}.i GROUP BY m.i)"
        )
        ctes.append(
            f"v{r} AS MATERIALIZED (SELECT i, (x * 1000000) // "
            f"(SELECT max(abs(x)) FROM x{r}) AS v FROM x{r})"
        )
    return f"""
    WITH {_SV},
    ex AS MATERIALIZED (
      SELECT vec_id, t.i - 1 AS i, s[t.i] AS si
      FROM sv, range(1, {_DIMS + 1}) t(i)),
    s1 AS MATERIALIZED (
      SELECT i, CAST(sum(si) AS HUGEINT) AS t1 FROM ex GROUP BY i),
    s2 AS MATERIALIZED (
      SELECT a.i AS i, b.i AS j, CAST(sum(a.si * b.si) AS HUGEINT) AS t2
      FROM ex a JOIN ex b USING (vec_id) GROUP BY a.i, b.i),
    nn AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM sv),
    m AS MATERIALIZED (
      SELECT s2.i, s2.j, nn.n * s2.t2 - a.t1 * b.t1 AS val
      FROM s2, nn, s1 a, s1 b WHERE a.i = s2.i AND b.i = s2.j),
    {", ".join(ctes)}
    SELECT CAST(i AS BIGINT) AS dim_idx, CAST(v AS BIGINT) AS v_scaled
    FROM v{_PCA_ROUNDS}
    """


@register(
    "ml_pca_power_iteration",
    oracle=_pca_oracle(),
)
def ml_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA TOP PRINCIPAL DIRECTION by fixed-point power iteration — the
    dimensionality-reduction primitive for embedding pipelines, made
    cross-engine EXACT. Floats can't do this (eigensolves disagree in
    the last ulp and sign), so everything is integer: components
    fix-point scale at 1e6; the exact centered scatter matrix is
    M = n·Σsᵢsⱼ − Σsᵢ·Σsⱼ (pure integer moments — no mean division,
    no float covariance); EIGHT fixed power-iteration rounds from the
    all-ones vector renormalize by v' = (M·v)·1e6 div max|M·v|
    (truncating division, bit-identical both engines — see
    ``llm.clustering.power_iteration_fixed_point``). Deterministic
    sign, deterministic rounds — an exact arithmetic contract, not an
    approximation one; quality is pytest's concern (Rayleigh quotient
    ≥ 0.94·λ1 on this corpus' near-flat spectrum, and exact
    eigenvector recovery on a spiked matrix), the driver hash pins the
    arithmetic.

    Scale split, stated plainly: the DATA-sized work — the (i,j) moment
    pass, a self-join on vec_id co-partitioned into one shuffle and a
    4096-group aggregate — is distributed; the EIGENSOLVE on the 64x64
    integer summary is driver-side Python bignum, collected bounded
    (dims², like Lloyd's re-centerings and the quantizer fits). At
    100 TB the moments pass is the only term that grows. Intermediates
    reach ~1e33, beyond BIGINT — the driver uses Python ints, the
    oracle HUGEINT."""
    from irio_mapreduce_spark.llm.clustering import power_iteration_fixed_point

    sv = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", scaled_vec(F.col("embedding")).alias("s")
    )
    ex = sv.select("vec_id", F.posexplode("s").alias("i", "si")).persist()
    s1_rows = ex.groupBy("i").agg(F.sum("si").alias("t1")).collect()
    b = ex.select(
        "vec_id", F.col("i").alias("j"), F.col("si").alias("sj")
    )
    s2_rows = (
        ex.join(b, "vec_id")
        .groupBy("i", "j")
        .agg(F.sum(F.col("si") * F.col("sj")).alias("t2"))
        .collect()
    )
    n = sv.count()
    ex.unpersist()

    s1 = {r["i"]: int(r["t1"]) for r in s1_rows}
    dims = len(s1)
    m = [
        [0] * dims for _ in range(dims)
    ]
    for r in s2_rows:
        m[r["i"]][r["j"]] = n * int(r["t2"]) - s1[r["i"]] * s1[r["j"]]
    v = power_iteration_fixed_point(m, rounds=_PCA_ROUNDS)
    return spark.createDataFrame(
        [(i, v[i]) for i in range(dims)], "dim_idx long, v_scaled long"
    )


@register(
    "ml_pca_project_topk",
    oracle=_pca_oracle().replace(
        """
    SELECT CAST(i AS BIGINT) AS dim_idx, CAST(v AS BIGINT) AS v_scaled
    FROM v{r}
    """.format(r=_PCA_ROUNDS),
        """
    , vvec AS MATERIALIZED (
      SELECT list(CAST(v AS BIGINT) ORDER BY i) AS v FROM v{r}),
    scores AS (
      SELECT sv.vec_id,
             CAST(list_sum(list_transform(range(1, {d}),
               t -> sv.s[t] * vvec.v[t])) AS BIGINT) AS score
      FROM sv, vvec)
    SELECT vec_id, score FROM scores
    ORDER BY score DESC, vec_id LIMIT 25
    """.format(r=_PCA_ROUNDS, d=_DIMS + 1),
    ),
)
def ml_pca_project_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA PROJECTION — the consuming half of the power-iteration entry:
    every embedding scored by its exact integer component along the
    learned direction (dot of the 1e6-scaled vector with the 1e6-scaled
    direction — products ~1e12 × 64 dims stay in BIGINT), top-25 by
    score. The direction is re-derived in-entry (driver bignum, same
    fixed arithmetic) and broadcast INTO the plan as literals, so the
    scoring pass is map-only over the embedding scan — the shape any
    "project 100 TB onto the learned subspace" job takes: one narrow
    pass, no shuffle except the bounded top-k. Ties break on vec_id."""
    from irio_mapreduce_spark.llm.clustering import power_iteration_fixed_point

    sv = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", scaled_vec(F.col("embedding")).alias("s")
    )
    ex = sv.select("vec_id", F.posexplode("s").alias("i", "si")).persist()
    s1_rows = ex.groupBy("i").agg(F.sum("si").alias("t1")).collect()
    b = ex.select("vec_id", F.col("i").alias("j"), F.col("si").alias("sj"))
    s2_rows = (
        ex.join(b, "vec_id")
        .groupBy("i", "j")
        .agg(F.sum(F.col("si") * F.col("sj")).alias("t2"))
        .collect()
    )
    n = sv.count()
    ex.unpersist()
    s1 = {r["i"]: int(r["t1"]) for r in s1_rows}
    dims = len(s1)
    m = [[0] * dims for _ in range(dims)]
    for r in s2_rows:
        m[r["i"]][r["j"]] = n * int(r["t2"]) - s1[r["i"]] * s1[r["j"]]
    v = power_iteration_fixed_point(m, rounds=_PCA_ROUNDS)
    # direction as a plan literal -> map-only scoring, no shuffle
    varr = F.array(*[F.lit(int(x)).cast("long") for x in v])
    scored = sv.select(
        "vec_id",
        F.aggregate(
            F.zip_with(F.col("s"), varr, lambda a, c: a * c),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("score"),
    )
    return scored.orderBy(F.col("score").desc(), "vec_id").limit(25)


@register(
    "ml_tree_predict_rollup",
    oracle=f"""
    WITH {_TREE_CTES},
    best2 AS (
      SELECT a.side, b0.t AS root_t, a.t, a.n_l, a.pos_l, a.n_r, a.pos_r
      FROM scored2 a, best0 b0
      WHERE NOT EXISTS (
        SELECT 1 FROM scored2 b
        WHERE b.side = a.side
          AND (b.num * a.den < a.num * b.den
               OR (b.num * a.den = a.num * b.den AND b.t < a.t)))),
    leaves AS (
      SELECT side, 'le' AS subleaf, n_l AS n_rows, pos_l AS n_returned
      FROM best2
      UNION ALL
      SELECT side, 'gt', n_r, pos_r FROM best2)
    SELECT side, subleaf,
           CAST(n_rows AS BIGINT) AS n_rows,
           CAST(n_returned AS BIGINT) AS n_returned,
           CASE WHEN 2 * n_returned > n_rows THEN 'R' ELSE 'N' END
             AS predicted_flag,
           CAST(CASE WHEN 2 * n_returned > n_rows THEN n_returned
                     ELSE n_rows - n_returned END AS BIGINT) AS n_hits
    FROM leaves
    """,
)
def ml_tree_predict_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PREDICT half of the depth-2 tree — train once, then score every
    row MAP-ONLY: the 2-row learned tree (`ml_decision_tree_depth2`) is
    collected (the bounded-model contract, same as the linear scorer's
    2-row fit) and its thresholds broadcast back as literals; each
    lineitem row walks root -> leaf in pure codegen'd expressions, and
    the per-leaf rollup emits row/positive counts, the leaf's
    majority-class prediction, and the training hits that prediction
    scores. The ORACLE never scores a row: it derives all four leaves'
    numbers from the split-search statistics alone — so the hash match
    proves the scoring pass reproduces the training partition exactly
    (one mislabeled row anywhere breaks a leaf count). At 100 TB,
    scoring any table with a trained tree is this same shape: broadcast
    literals, zero shuffles before the final rollup."""
    tree = {
        r["side"]: r
        for r in ml_decision_tree_depth2(spark, sf_dir).collect()
    }
    root_t = next(iter(tree.values()))["root_threshold"]
    t_le = tree["le"]["best_discount_pct"]
    t_gt = tree["gt"]["best_discount_pct"]
    pts = _tree_points(spark, sf_dir)
    side = F.when(F.col("q") <= F.lit(root_t), F.lit("le")).otherwise(
        F.lit("gt")
    )
    d_thresh = F.when(side == "le", F.lit(t_le)).otherwise(F.lit(t_gt))
    subleaf = F.when(F.col("d") <= d_thresh, F.lit("le")).otherwise(
        F.lit("gt")
    )
    rolled = (
        pts.select(side.alias("side"), subleaf.alias("subleaf"), "pos")
        .groupBy("side", "subleaf")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum("pos").cast("long").alias("n_returned"),
        )
    )
    pred_r = 2 * F.col("n_returned") > F.col("n_rows")
    return rolled.select(
        "side",
        "subleaf",
        "n_rows",
        "n_returned",
        F.when(pred_r, F.lit("R")).otherwise(F.lit("N")).alias("predicted_flag"),
        F.when(pred_r, F.col("n_returned"))
        .otherwise(F.col("n_rows") - F.col("n_returned"))
        .cast("long")
        .alias("n_hits"),
    )


def _adaboost_round_sql(r: int) -> str:
    """One unrolled AdaBoost round over state ``s{r}`` (columns q, d, pos,
    cnt, w — all HUGEINT-safe): per-feature cumulative weighted class
    masses, both stump polarities, total-order argmin, and the integer
    weight rescale that defines ``s{r+1}``."""
    return f"""
    gq{r} AS (
      SELECT q AS t, sum(w * cnt * pos) AS wpos, sum(w * cnt * (1 - pos)) AS wneg
      FROM s{r} GROUP BY q),
    aq{r} AS (
      SELECT t, sum(wpos) OVER (ORDER BY t) AS wpos_l,
             sum(wneg) OVER (ORDER BY t) AS wneg_l,
             sum(wpos) OVER () AS wpos_tot, sum(wneg) OVER () AS wneg_tot
      FROM gq{r}),
    gd{r} AS (
      SELECT d AS t, sum(w * cnt * pos) AS wpos, sum(w * cnt * (1 - pos)) AS wneg
      FROM s{r} GROUP BY d),
    ad{r} AS (
      SELECT t, sum(wpos) OVER (ORDER BY t) AS wpos_l,
             sum(wneg) OVER (ORDER BY t) AS wneg_l,
             sum(wpos) OVER () AS wpos_tot, sum(wneg) OVER () AS wneg_tot
      FROM gd{r}),
    c{r} AS (
      SELECT 'q' AS feat, t, 1 AS pol,
             wneg_l + (wpos_tot - wpos_l) AS w_mis,
             wpos_tot + wneg_tot AS w_all
      FROM aq{r} WHERE (wpos_tot + wneg_tot) - (wpos_l + wneg_l) > 0
      UNION ALL
      SELECT 'q', t, 0, wpos_l + (wneg_tot - wneg_l), wpos_tot + wneg_tot
      FROM aq{r} WHERE (wpos_tot + wneg_tot) - (wpos_l + wneg_l) > 0
      UNION ALL
      SELECT 'd', t, 1, wneg_l + (wpos_tot - wpos_l), wpos_tot + wneg_tot
      FROM ad{r} WHERE (wpos_tot + wneg_tot) - (wpos_l + wneg_l) > 0
      UNION ALL
      SELECT 'd', t, 0, wpos_l + (wneg_tot - wneg_l), wpos_tot + wneg_tot
      FROM ad{r} WHERE (wpos_tot + wneg_tot) - (wpos_l + wneg_l) > 0),
    b{r} AS (
      SELECT feat, t, pol, w_mis, w_all
      FROM c{r} ORDER BY w_mis, feat, t, pol LIMIT 1),
    s{r + 1} AS (
      SELECT s.q, s.d, s.pos, s.cnt,
             s.w * CASE WHEN (CASE WHEN (CASE WHEN b.feat = 'q' THEN s.q
                                             ELSE s.d END) <= b.t
                                  THEN b.pol ELSE 1 - b.pol END) <> s.pos
                        THEN b.w_all - b.w_mis ELSE b.w_mis END AS w
      FROM s{r} s, b{r} b)"""


_ADABOOST_ORACLE = f"""
    WITH raw AS (
      SELECT CAST(l_quantity AS BIGINT) AS q,
             CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS d,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS pos
      FROM lineitem),
    s1 AS (
      SELECT q, d, pos, CAST(count(*) AS HUGEINT) AS cnt,
             CAST(1 AS HUGEINT) AS w
      FROM raw GROUP BY q, d, pos),
    {_adaboost_round_sql(1)},
    {_adaboost_round_sql(2)},
    {_adaboost_round_sql(3)}
    SELECT CAST(r.rnd AS BIGINT) AS round, r.feat,
           CAST(r.t AS BIGINT) AS threshold,
           CAST(r.pol AS BIGINT) AS left_positive,
           CAST(r.w_mis AS VARCHAR) AS w_err,
           CAST(r.w_all - r.w_mis AS VARCHAR) AS w_corr,
           CAST(r.w_all AS VARCHAR) AS w_total
    FROM (
      SELECT 1 AS rnd, * FROM b1
      UNION ALL SELECT 2, * FROM b2
      UNION ALL SELECT 3, * FROM b3) r
    """


@register("ml_adaboost_stumps", oracle=_ADABOOST_ORACLE)
def ml_adaboost_stumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THREE-ROUND AdaBoost over decision stumps — boosting expressed as
    CHAINED REDUCE BATCHES (the reference chains reducers per
    common/common.proto:17; each boosting round is one grouped-reduce
    batch over the re-weighted frame, exactly the shape
    ReduceProcessor.java:32-47 executes per partition), and every weight
    is an EXACT INTEGER. The transcendental-free trick: AdaBoost's
    multiplicative update w <- w * exp(+-alpha) only matters up to a
    per-round uniform scale, so misclassified rows multiply by W_corr
    and correct rows by W_err (both integers) — the same rational
    reweighting, zero floats, bit-identical across engines. Per round
    the best stump over BOTH features (quantity, discount-pct) and BOTH
    polarities is the total-order argmin of weighted misclassification
    (w_mis, feat, t, pol) — weighted 0-1 loss, the classical AdaBoost
    criterion, again pure integer comparison. A perfect round
    (W_err = 0) zeroes all weights and ENDS the boosting — later
    rounds emit no rows on either side (hypothesis-found degenerate,
    impossible on the natural corpus, semantics pinned anyway).

    Scale shape: ONE distributed pass compacts 100 TB of lineitems to
    the (q, d, pos) domain (<= 50*11*2 rows) with multiplicities —
    legal because a stump's prediction, hence every row's weight
    trajectory, depends only on (q, d, pos). The boosting loop then
    runs on that checkpointed domain frame: 2 tiny grouped aggregates
    + a 1-row argmin collect per round (the bounded driver artifact
    pattern of the 2-row tree models). Weight magnitudes are bounded
    by W_tot(3) <= 2 * (n^2/2)^2 ~ 1e22 at sf0.1 — inside
    DECIMAL(38,0)/HUGEINT by 16 orders; the two big weight columns are
    output as strings (BIGINT saturates at 9.2e18).
    """
    dec = "decimal(38,0)"
    pts = read_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("q"),
        F.floor(F.col("l_discount") * 100 + 0.5).cast("long").alias("d"),
        F.when(F.col("l_returnflag") == "R", F.lit(1))
        .otherwise(F.lit(0))
        .alias("pos"),
    )
    state = barrier(  # the ONE big pass; rounds run tiny
        pts.groupBy("q", "d", "pos")
        .agg(F.count("*").cast(dec).alias("cnt"))
        .withColumn("w", F.lit(1).cast(dec))
    )
    out: list[tuple] = []
    for rnd in (1, 2, 3):
        cands = []
        for feat in ("q", "d"):
            per_t = state.groupBy(F.col(feat).alias("t")).agg(
                F.sum(F.col("w") * F.col("cnt") * F.col("pos")).alias("wpos"),
                F.sum(
                    F.col("w") * F.col("cnt") * (1 - F.col("pos"))
                ).alias("wneg"),
            )
            cum_w = Window.orderBy("t").rowsBetween(
                Window.unboundedPreceding, 0
            )
            tot = per_t.agg(
                F.sum("wpos").alias("wpos_tot"),
                F.sum("wneg").alias("wneg_tot"),
            )
            acc = (
                per_t.withColumn("wpos_l", F.sum("wpos").over(cum_w))
                .withColumn("wneg_l", F.sum("wneg").over(cum_w))
                .crossJoin(F.broadcast(tot))
                .filter(
                    (F.col("wpos_tot") + F.col("wneg_tot"))
                    - (F.col("wpos_l") + F.col("wneg_l"))
                    > 0
                )
            )
            for pol, mis in (
                (1, F.col("wneg_l") + (F.col("wpos_tot") - F.col("wpos_l"))),
                (0, F.col("wpos_l") + (F.col("wneg_tot") - F.col("wneg_l"))),
            ):
                cands.append(
                    acc.select(
                        F.lit(feat).alias("feat"),
                        F.col("t"),
                        F.lit(pol).alias("pol"),
                        mis.alias("w_mis"),
                        (F.col("wpos_tot") + F.col("wneg_tot")).alias(
                            "w_all"
                        ),
                    )
                )
        union = cands[0]
        for c in cands[1:]:
            union = union.unionByName(c)
        top = union.orderBy("w_mis", "feat", "t", "pol").limit(1).collect()
        if not top:
            # Degenerate convergence: a perfect stump (W_err = 0) zeroes
            # every weight, so the next round has no positive-mass
            # candidates — boosting is DONE and later rounds emit
            # nothing. The oracle reaches the same state naturally (its
            # candidate CTEs go empty), so both sides just stop.
            break
        best = top[0]
        w_mis, w_all = int(best["w_mis"]), int(best["w_all"])
        out.append(
            (
                rnd,
                best["feat"],
                int(best["t"]),
                int(best["pol"]),
                str(w_mis),
                str(w_all - w_mis),
                str(w_all),
            )
        )
        if rnd < 3:
            v = F.col(best["feat"])
            pred = F.when(
                v <= F.lit(int(best["t"])), F.lit(int(best["pol"]))
            ).otherwise(F.lit(1 - int(best["pol"])))
            mult = F.when(
                pred != F.col("pos"),
                F.lit(str(w_all - w_mis)).cast(dec),
            ).otherwise(F.lit(str(w_mis)).cast(dec))
            state = barrier(state.withColumn("w", F.col("w") * mult))
    return spark.createDataFrame(
        out,
        "round long, feat string, threshold long, left_positive long, "
        "w_err string, w_corr string, w_total string",
    )


_KMPP_H = "('0x' || substr(md5(vec_id::VARCHAR || '|kmpp{r}'), 1, 8))::BIGINT"

_KMPP_ROUND = f"""
    d{{r}} AS (
      SELECT vec_id, min(dsum) AS d2 FROM (
        SELECT v.vec_id, c.cid,
               CAST(sum((v.s[i] - c.c[i]) * (v.s[i] - c.c[i])) AS BIGINT)
                 AS dsum
        FROM sv v, cand{{prev}} c, range(1, {_DIMS + 1}) t(i)
        GROUP BY v.vec_id, c.cid)
      GROUP BY vec_id),
    phi{{r}} AS (SELECT CAST(sum(d2) AS HUGEINT) AS phi FROM d{{r}}),
    sel{{r}} AS (
      SELECT d.vec_id FROM d{{r}} d, phi{{r}} p
      WHERE {_KMPP_H.format(r="{r}")} * p.phi
            < 16 * CAST(d.d2 AS HUGEINT) * CAST(4294967296 AS HUGEINT)),
    cand{{r}} AS (
      SELECT * FROM cand{{prev}}
      UNION ALL
      SELECT v.vec_id AS cid, v.s AS c, {{r}} AS rnd
      FROM sv v JOIN sel{{r}} USING (vec_id))
"""

_KMPP_ORACLE = f"""
    WITH {_SV},
    seed AS (
      SELECT vec_id, s FROM sv
      ORDER BY {_KMPP_H.format(r=0)}, vec_id LIMIT 1),
    cand0 AS (SELECT vec_id AS cid, s AS c, 0 AS rnd FROM seed),
    {_KMPP_ROUND.format(r=1, prev=0)},
    {_KMPP_ROUND.format(r=2, prev=1)},
    asg AS (
      SELECT vec_id, cid FROM (
        SELECT v.vec_id, c.cid,
               row_number() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY sum((v.s[i] - c.c[i]) * (v.s[i] - c.c[i])), c.cid
               ) AS rn
        FROM sv v, cand2 c, range(1, {_DIMS + 1}) t(i)
        GROUP BY v.vec_id, c.cid)
      WHERE rn = 1)
    SELECT CAST(c.cid AS BIGINT) AS cid,
           CAST(c.rnd AS BIGINT) AS round_added,
           CAST(coalesce(w.n, 0) AS BIGINT) AS weight
    FROM cand2 c LEFT JOIN
      (SELECT cid, count(*) AS n FROM asg GROUP BY cid) w USING (cid)
    """


@register("ml_kmeans_parallel_init", oracle=_KMPP_ORACLE)
def ml_kmeans_parallel_init(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-means|| INITIALIZATION (Bahmani et al., VLDB'12 — the
    distributed k-means++ used by Spark MLlib itself), DERANDOMIZED so
    the oracle can replay it bit-for-bit: every "coin flip" is an md5
    draw. Seed = argmin md5-priority point; each of 2 rounds computes
    every point's exact integer squared distance d2 to the CURRENT
    candidate set, the potential phi = sum(d2), and admits point x iff
    h(x|round) * phi < l * d2(x) * 2^32 — the integer cross-multiplied
    form of u < l*d2/phi with u = h/2^32, oversampling l = 2k = 16.
    Already-admitted points have d2 = 0 and can never re-enter. The
    final pass weights every candidate by the number of points it is
    nearest to (ties -> lowest candidate id) — the weighted summary the
    final (driver-sized, k x dims) clustering consumes.

    100 TB shape: per round ONE scan of the corpus against a broadcast
    candidate set (|C| <= 1 + r*l, tiny), one bounded scalar collect
    (phi), and a filter — no shuffle of the points at all; the weight
    pass is one more broadcast-argmin scan + a |C|-group aggregate.
    That is exactly why k-means|| exists: k-means++ needs k sequential
    passes, this needs O(log n) (here fixed 2 + weight pass).
    Magnitudes: d2 <= 64*(2e6)^2 ~ 2.6e14, h*phi <= 4.3e9 * n*d2max —
    DECIMAL(38)/HUGEINT territory, 10 orders of headroom at sf0.1."""
    from irio_mapreduce_spark.llm.clustering import _sq_dist

    dec = "decimal(38,0)"
    pts = barrier(
        read_table(spark, sf_dir, "embeddings").select(
            "vec_id", scaled_vec(F.col("embedding")).alias("s")
        )
    )

    def h(r: int) -> F.Column:
        return F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("vec_id").cast("string"), F.lit(f"|kmpp{r}")
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")

    cands = barrier(
        pts.orderBy(h(0).asc(), F.col("vec_id").asc())
        .limit(1)
        .select(
            F.col("vec_id").alias("cid"),
            F.col("s").alias("c"),
            F.lit(0).alias("rnd"),
        )
    )
    for r in (1, 2):
        d2 = (
            pts.crossJoin(F.broadcast(cands))
            .groupBy("vec_id")
            .agg(F.min(_sq_dist(F.col("s"), F.col("c"))).alias("d2"))
        )
        phi = d2.agg(F.sum("d2")).collect()[0][0]  # bounded: one scalar
        sel = d2.filter(
            h(r).cast(dec) * F.lit(str(int(phi))).cast(dec)
            < F.lit(16).cast(dec)
            * F.col("d2").cast(dec)
            * F.lit(4294967296).cast(dec)
        ).select("vec_id")
        cands = barrier(
            cands.unionByName(
                sel.join(pts, "vec_id").select(
                    F.col("vec_id").alias("cid"),
                    F.col("s").alias("c"),
                    F.lit(r).alias("rnd"),
                )
            )
        )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("_d").asc(), F.col("cid").asc()
    )
    asg = (
        pts.crossJoin(F.broadcast(cands))
        .select("vec_id", "cid", _sq_dist(F.col("s"), F.col("c")).alias("_d"))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
    )
    weights = asg.groupBy("cid").agg(F.count("*").alias("n"))
    return (
        cands.join(weights, "cid", "left")
        .select(
            F.col("cid").cast("long").alias("cid"),
            F.col("rnd").cast("long").alias("round_added"),
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("weight"),
        )
    )


@register(
    "ml_ridge_shrinkage",
    oracle="""
    WITH pts AS (
      SELECT l_returnflag AS flag,
             CAST(l_quantity AS BIGINT) AS xi,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS yc
      FROM lineitem),
    m AS (SELECT flag,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(xi) AS BIGINT) AS sx,
                 CAST(sum(yc) AS BIGINT) AS syc,
                 CAST(sum(xi * yc) AS BIGINT) AS sxyc,
                 CAST(sum(xi * xi) AS BIGINT) AS sxx
          FROM pts GROUP BY flag)
    SELECT flag, n,
           ((CAST(n AS DOUBLE) * CAST(sxyc AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(syc AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) / 100
             AS slope_ols,
           ((CAST(n AS DOUBLE) * CAST(sxyc AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(syc AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
               + CAST(n AS DOUBLE) * 1000000.0)) / 100
             AS slope_ridge,
           ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
               + CAST(n AS DOUBLE) * 1000000.0))
             AS shrink_factor
    FROM m
    """,
)
def ml_ridge_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIDGE REGRESSION (L2-regularized least squares, intercept
    unpenalized) per returnflag group, closed form on integer moments:
    ``b_ridge = (n·Sxy − Sx·Sy) / (n·Sxx − Sx² + n·λ)`` with λ = 10^6 on
    the cents slope — shown side-by-side with the OLS slope and the exact
    shrinkage factor ridge applies (the variance-ratio interpretation of
    L2). Same exactness argument as ``stats_ols_price_vs_qty``: moments
    are exact BIGINT sums (quantity integer, price 2-decimal money ->
    cents), each casts to double once (correctly rounded in both
    engines), and the estimators are a FIXED sequence of scalar IEEE ops
    — so even the unrounded doubles hash-match. Distributed cost: one
    scan, one 5-moment map-side-combined aggregate per group; the model
    itself is a per-group scalar, the shape a 1000-executor fit of
    per-segment calibration models takes."""
    li = read_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_quantity").cast("long").alias("xi"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("yc"),
    )
    m = li.groupBy("flag").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("xi").cast("long").alias("sx"),
        F.sum("yc").cast("long").alias("syc"),
        F.sum(F.col("xi") * F.col("yc")).cast("long").alias("sxyc"),
        F.sum(F.col("xi") * F.col("xi")).cast("long").alias("sxx"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    syc = F.col("syc").cast("double")
    sxyc = F.col("sxyc").cast("double")
    sxx = F.col("sxx").cast("double")
    lam = F.lit(1000000.0)
    sxx_c = n * sxx - sx * sx
    num = n * sxyc - sx * syc
    return m.select(
        "flag",
        "n",
        ((num / sxx_c) / 100).alias("slope_ols"),
        ((num / (sxx_c + n * lam)) / 100).alias("slope_ridge"),
        (sxx_c / (sxx_c + n * lam)).alias("shrink_factor"),
    )


_GBT_ORACLE = """
    WITH pts AS (
      SELECT CAST(l_quantity AS BIGINT) AS q,
             CAST(month(l_shipdate) AS BIGINT) AS m,
             CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS y
      FROM lineitem WHERE l_orderkey % 100 = 0),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(y) AS BIGINT) AS s FROM pts),
    per_q AS (SELECT q, count(*) AS n_q, sum(y) AS s_q FROM pts GROUP BY q),
    cum1 AS (
      SELECT q, sum(n_q) OVER w AS n_l, sum(s_q) OVER w AS s_l
      FROM per_q WINDOW w AS (ORDER BY q)),
    cand1 AS (
      SELECT q AS t, n_l, s_l, t2.n - n_l AS n_r, t2.s - s_l AS s_r
      FROM cum1 CROSS JOIN tot t2
      WHERE n_l > 0 AND t2.n - n_l > 0),
    scored1 AS (
      SELECT t, n_l, s_l, n_r, s_r,
             CAST(s_l AS HUGEINT) * s_l * n_r
               + CAST(s_r AS HUGEINT) * s_r * n_l AS num,
             CAST(n_l AS HUGEINT) * n_r AS den
      FROM cand1),
    best1 AS (
      SELECT * FROM scored1 a
      WHERE NOT EXISTS (
        SELECT 1 FROM scored1 b
        WHERE b.num * a.den > a.num * b.den
           OR (b.num * a.den = a.num * b.den AND b.t < a.t))),
    res AS (
      SELECT p.m,
             CASE WHEN p.q <= b.t
                  THEN (b.n_l * b.n_r) * p.y - b.n_r * b.s_l
                  ELSE (b.n_l * b.n_r) * p.y - b.n_l * b.s_r END AS r,
             b.n_l * b.n_r AS scale
      FROM pts p CROSS JOIN best1 b),
    tot2 AS (SELECT CAST(count(*) AS BIGINT) AS n,
                    CAST(sum(r) AS BIGINT) AS s,
                    CAST(max(scale) AS BIGINT) AS scale FROM res),
    per_m AS (SELECT m, count(*) AS n_m, sum(r) AS s_m FROM res GROUP BY m),
    cum2 AS (
      SELECT m, sum(n_m) OVER w AS n_l, sum(s_m) OVER w AS s_l
      FROM per_m WINDOW w AS (ORDER BY m)),
    cand2 AS (
      SELECT m AS t, n_l, s_l, t2.n - n_l AS n_r, t2.s - s_l AS s_r,
             t2.scale
      FROM cum2 CROSS JOIN tot2 t2
      WHERE n_l > 0 AND t2.n - n_l > 0),
    scored2 AS (
      SELECT t, n_l, s_l, n_r, s_r, scale,
             CAST(s_l AS HUGEINT) * s_l * n_r
               + CAST(s_r AS HUGEINT) * s_r * n_l AS num,
             CAST(n_l AS HUGEINT) * n_r AS den
      FROM cand2),
    best2 AS (
      SELECT * FROM scored2 a
      WHERE NOT EXISTS (
        SELECT 1 FROM scored2 b
        WHERE b.num * a.den > a.num * b.den
           OR (b.num * a.den = a.num * b.den AND b.t < a.t)))
    SELECT 1 AS round, 'quantity' AS feature, CAST(t AS BIGINT) AS t,
           'L' AS side, CAST(s_l AS BIGINT) AS leaf_num,
           CAST(n_l AS BIGINT) AS leaf_den, CAST(1 AS BIGINT) AS scale
    FROM best1
    UNION ALL
    SELECT 1, 'quantity', CAST(t AS BIGINT), 'R', CAST(s_r AS BIGINT),
           CAST(n_r AS BIGINT), CAST(1 AS BIGINT) FROM best1
    UNION ALL
    SELECT 2, 'month', CAST(t AS BIGINT), 'L', CAST(s_l AS BIGINT),
           CAST(n_l AS BIGINT), CAST(scale AS BIGINT) FROM best2
    UNION ALL
    SELECT 2, 'month', CAST(t AS BIGINT), 'R', CAST(s_r AS BIGINT),
           CAST(n_r AS BIGINT), CAST(scale AS BIGINT) FROM best2
"""


def _gbt_best_split(pts: DataFrame, feat: str) -> DataFrame:
    """Exact squared-loss regression-stump split on integer targets:
    maximize gain (S_L²·n_R + S_R²·n_L)/(n_L·n_R) via cross-multiplied
    dominance on DECIMAL(38,0) (same argmin discipline as
    ``ml_decision_stump``; ties at the smallest threshold). Input:
    (feat, _y); output 1 row (t, n_l, s_l, n_r, s_r)."""
    dec = "decimal(38,0)"
    tot = pts.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("_y").cast("long").alias("s"),
    )
    per = pts.groupBy(feat).agg(
        F.count("*").alias("n_f"), F.sum("_y").alias("s_f")
    )
    w = Window.orderBy(feat).rowsBetween(Window.unboundedPreceding, 0)
    cum = (
        per.withColumn("n_l", F.sum("n_f").over(w).cast("long"))
        .withColumn("s_l", F.sum("s_f").over(w).cast("long"))
        .crossJoin(F.broadcast(tot))
    )
    cand = cum.filter(
        (F.col("n_l") > 0) & (F.col("n") - F.col("n_l") > 0)
    ).select(
        F.col(feat).cast("long").alias("t"),
        "n_l",
        "s_l",
        (F.col("n") - F.col("n_l")).cast("long").alias("n_r"),
        (F.col("s") - F.col("s_l")).cast("long").alias("s_r"),
    )
    scored = cand.select(
        "t",
        "n_l",
        "s_l",
        "n_r",
        "s_r",
        (
            F.col("s_l").cast(dec) * F.col("s_l") * F.col("n_r")
            + F.col("s_r").cast(dec) * F.col("s_r") * F.col("n_l")
        ).alias("num"),
        (F.col("n_l").cast(dec) * F.col("n_r")).alias("den"),
    )
    other = scored.select(
        F.col("t").alias("b_t"),
        F.col("num").alias("b_num"),
        F.col("den").alias("b_den"),
    )
    return scored.join(
        F.broadcast(other),
        (F.col("b_num") * F.col("den") > F.col("num") * F.col("b_den"))
        | (
            (F.col("b_num") * F.col("den") == F.col("num") * F.col("b_den"))
            & (F.col("b_t") < F.col("t"))
        ),
        "left_anti",
    ).select("t", "n_l", "s_l", "n_r", "s_r")


@register("ml_gbt_residual_stumps", oracle=_GBT_ORACLE)
def ml_gbt_residual_stumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRADIENT BOOSTING (squared loss, 2 rounds of regression stumps) in
    EXACT integer arithmetic — the regression complement of
    ``ml_adaboost_stumps``: round 1 fits a quantity-threshold stump to
    discount cents by exact SSE argmin (gain (S_L²n_R + S_R²n_L)/(n_Ln_R),
    cross-multiplied dominance — a float argmin flips near-equal splits
    between engines); round 2 fits a month stump to the RESIDUALS, kept
    integer by clearing the round-1 leaf denominators: with
    D = n_L·n_R, ``r = D·y − n_R·S_L`` (left rows) / ``D·y − n_L·S_R``
    (right) — exact because D/n_L = n_R is integral, sidestepping both
    float residuals and the negative-operand ``div``/``//`` divergence.
    Leaves are reported as (num, den, scale) triples, never quotients.

    The deterministic 1%-of-orders subsample bounds the dominance
    products inside DECIMAL(38)/HUGEINT (degree-5 in n; full-corpus
    magnitudes overflow BOTH engines' widest integers — the bound is
    arithmetic, not computational). Distributed shape per round: one
    grouped aggregate compacts the corpus to |distinct feature| rows;
    scoring and dominance run on that broadcast-sized frame; the
    residual pass is one broadcast of the 1-row model (reference:
    chained reduce batches, common.proto:17)."""
    pts = (
        read_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 100 == 0)
        .select(
            F.col("l_quantity").cast("long").alias("q"),
            F.month("l_shipdate").cast("long").alias("m"),
            F.floor(F.col("l_discount") * 100 + 0.5).cast("long").alias("y"),
        )
    )
    best1 = barrier(
        _gbt_best_split(pts.select(F.col("q"), F.col("y").alias("_y")), "q")
    )
    b = F.broadcast(
        best1.select(
            F.col("t").alias("_t"),
            F.col("n_l").alias("_nl"),
            F.col("s_l").alias("_sl"),
            F.col("n_r").alias("_nr"),
            F.col("s_r").alias("_sr"),
        )
    )
    res = pts.crossJoin(b).select(
        "m",
        F.when(
            F.col("q") <= F.col("_t"),
            (F.col("_nl") * F.col("_nr")) * F.col("y")
            - F.col("_nr") * F.col("_sl"),
        )
        .otherwise(
            (F.col("_nl") * F.col("_nr")) * F.col("y")
            - F.col("_nl") * F.col("_sr")
        )
        .alias("_y"),
        (F.col("_nl") * F.col("_nr")).alias("scale"),
    )
    scale = res.agg(F.max("scale").cast("long").alias("scale"))
    best2 = _gbt_best_split(res.select("m", "_y"), "m").crossJoin(
        F.broadcast(scale)
    )
    one = F.lit(1).cast("long")
    out1 = best1.select(
        F.lit(1).alias("round"),
        F.lit("quantity").alias("feature"),
        F.col("t"),
        F.lit("L").alias("side"),
        F.col("s_l").alias("leaf_num"),
        F.col("n_l").alias("leaf_den"),
        one.alias("scale"),
    ).unionByName(
        best1.select(
            F.lit(1).alias("round"),
            F.lit("quantity").alias("feature"),
            F.col("t"),
            F.lit("R").alias("side"),
            F.col("s_r").alias("leaf_num"),
            F.col("n_r").alias("leaf_den"),
            one.alias("scale"),
        )
    )
    out2 = best2.select(
        F.lit(2).alias("round"),
        F.lit("month").alias("feature"),
        F.col("t"),
        F.lit("L").alias("side"),
        F.col("s_l").alias("leaf_num"),
        F.col("n_l").alias("leaf_den"),
        F.col("scale"),
    ).unionByName(
        best2.select(
            F.lit(2).alias("round"),
            F.lit("month").alias("feature"),
            F.col("t"),
            F.lit("R").alias("side"),
            F.col("s_r").alias("leaf_num"),
            F.col("n_r").alias("leaf_den"),
            F.col("scale"),
        )
    )
    return out1.unionByName(out2)


@register(
    "ml_confusion_threshold_sweep",
    oracle=f"""
    WITH {_FIT_SQL},
    bounds AS (SELECT CAST(min(score) AS BIGINT) AS smin,
                      CAST(max(score) AS BIGINT) AS smax FROM sc),
    compact AS (SELECT score, pos, CAST(count(*) AS BIGINT) AS n
                FROM sc GROUP BY score, pos),
    grid AS (SELECT t.k AS k,
                    smin + (t.k * (smax - smin)) // 10 AS thr
             FROM range(1, 10) t(k), bounds),
    cells AS (
      SELECT g.k, g.thr,
             CAST(sum(CASE WHEN c.pos AND c.score >= g.thr
                           THEN c.n ELSE 0 END) AS BIGINT) AS tp,
             CAST(sum(CASE WHEN NOT c.pos AND c.score >= g.thr
                           THEN c.n ELSE 0 END) AS BIGINT) AS fp,
             CAST(sum(CASE WHEN c.pos AND c.score < g.thr
                           THEN c.n ELSE 0 END) AS BIGINT) AS fn,
             CAST(sum(CASE WHEN NOT c.pos AND c.score < g.thr
                           THEN c.n ELSE 0 END) AS BIGINT) AS tn
      FROM grid g CROSS JOIN compact c GROUP BY g.k, g.thr)
    SELECT CAST(k AS BIGINT) AS k, thr, tp, fp, fn, tn FROM cells
    """,
)
def ml_confusion_threshold_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """OPERATING-POINT SWEEP for the curation classifier: the full
    confusion matrix at 9 evenly spaced integer thresholds across the
    score range — the table behind every precision/recall tradeoff
    decision (pick the threshold, know exactly what you keep and what
    you lose). Complements `ml_auc_exact` (threshold-free ranking
    quality) and `ml_linear_score_classify` (the single midpoint
    operating point) with the curve between them.

    The 100 TB discipline is COMPACT-THEN-SWEEP: scores first collapse
    to a (score, class, count) frame — the only corpus-sized pass — and
    the 9-threshold fan-out runs on that compacted frame against a
    broadcast grid (BroadcastNestedLoopJoin over 9 rows, never a
    shuffle). Thresholds ``smin + k·(smax−smin) div 10`` are all-integer
    on non-negative operands, scores are the exact fixed-point dot
    products of the shared centroid rule, so every cell hash-matches."""
    sv = _labeled_scaled(spark, sf_dir)
    w, _t2 = _fit_centroid_rule(sv)
    score = _score_expr(w)
    compact = (
        sv.select(F.col("pos"), score.alias("score"))
        .groupBy("score", "pos")
        .agg(F.count("*").cast("long").alias("n"))
    )
    bounds = compact.agg(
        F.min("score").cast("long").alias("smin"),
        F.max("score").cast("long").alias("smax"),
    )
    grid = (
        spark.range(1, 10)
        .withColumnRenamed("id", "k")
        .crossJoin(F.broadcast(bounds))
        .select(
            "k",
            F.expr(
                "CAST(smin + (k * (smax - smin)) div 10 AS BIGINT)"
            ).alias("thr"),
        )
    )
    hit = F.col("score") >= F.col("thr")
    return (
        compact.crossJoin(F.broadcast(grid))
        .groupBy("k", "thr")
        .agg(
            F.sum(F.when(F.col("pos") & hit, F.col("n")).otherwise(0))
            .cast("long")
            .alias("tp"),
            F.sum(F.when(~F.col("pos") & hit, F.col("n")).otherwise(0))
            .cast("long")
            .alias("fp"),
            F.sum(F.when(F.col("pos") & ~hit, F.col("n")).otherwise(0))
            .cast("long")
            .alias("fn"),
            F.sum(F.when(~F.col("pos") & ~hit, F.col("n")).otherwise(0))
            .cast("long")
            .alias("tn"),
        )
    )


@register(
    "ml_perceptron_batch_rounds",
    oracle="""
    WITH pts AS (
      SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE -1 END AS y,
             CAST(1 AS BIGINT) AS x0,
             CAST(l_quantity AS BIGINT) AS x1,
             CAST(round(l_discount * 100) AS BIGINT) AS x2
      FROM lineitem),
    r1 AS (
      SELECT CAST(sum(y * x0) AS BIGINT) AS w0,
             CAST(sum(y * x1) AS BIGINT) AS w1,
             CAST(sum(y * x2) AS BIGINT) AS w2
      FROM pts),
    r2 AS (
      SELECT CAST(r1.w0 + sum(CASE WHEN p.y * (r1.w0*p.x0 + r1.w1*p.x1
                                              + r1.w2*p.x2) <= 0
                                   THEN p.y * p.x0 ELSE 0 END) AS BIGINT)
               AS w0,
             CAST(r1.w1 + sum(CASE WHEN p.y * (r1.w0*p.x0 + r1.w1*p.x1
                                              + r1.w2*p.x2) <= 0
                                   THEN p.y * p.x1 ELSE 0 END) AS BIGINT)
               AS w1,
             CAST(r1.w2 + sum(CASE WHEN p.y * (r1.w0*p.x0 + r1.w1*p.x1
                                              + r1.w2*p.x2) <= 0
                                   THEN p.y * p.x2 ELSE 0 END) AS BIGINT)
               AS w2
      FROM pts p CROSS JOIN r1 GROUP BY r1.w0, r1.w1, r1.w2),
    r3 AS (
      SELECT CAST(r2.w0 + sum(CASE WHEN p.y * (r2.w0*p.x0 + r2.w1*p.x1
                                              + r2.w2*p.x2) <= 0
                                   THEN p.y * p.x0 ELSE 0 END) AS BIGINT)
               AS w0,
             CAST(r2.w1 + sum(CASE WHEN p.y * (r2.w0*p.x0 + r2.w1*p.x1
                                              + r2.w2*p.x2) <= 0
                                   THEN p.y * p.x1 ELSE 0 END) AS BIGINT)
               AS w1,
             CAST(r2.w2 + sum(CASE WHEN p.y * (r2.w0*p.x0 + r2.w1*p.x1
                                              + r2.w2*p.x2) <= 0
                                   THEN p.y * p.x2 ELSE 0 END) AS BIGINT)
               AS w2
      FROM pts p CROSS JOIN r2 GROUP BY r2.w0, r2.w1, r2.w2)
    SELECT r3.w0, r3.w1, r3.w2,
           CAST(sum(CASE WHEN p.y * (r3.w0*p.x0 + r3.w1*p.x1
                                     + r3.w2*p.x2) <= 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_misclassified
    FROM pts p CROSS JOIN r3 GROUP BY r3.w0, r3.w1, r3.w2
    """,
)
def ml_perceptron_batch_rounds(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """BATCH PERCEPTRON, 3 unrolled rounds — the simplest online linear
    learner in its DISTRIBUTED form: each round adds the SUM of y·x over
    currently-misclassified rows to the weights (the batch/"parallel"
    perceptron update, which is what a data-parallel engine can do —
    per-row sequential updates cannot be expressed as a dataflow). All
    arithmetic is exact BIGINT on integer features (bias, quantity,
    discount cents); the margin test y·(w·x) <= 0 is integer too, so
    both engines agree on exactly which rows vote in each round. Plan
    shape: each round is ONE map-side-partial aggregate of the fact
    table joined to the previous round's 1-ROW weight frame (a broadcast
    by size) — three chained scans, no iteration driver-side, no
    collect; the oracle unrolls the same three rounds as chained CTEs.
    Completes the boosting family's missing linear member (AdaBoost and
    GBT stumps exist; this is the mistake-driven additive update)."""
    pts = read_table(spark, sf_dir, "lineitem").select(
        F.when(F.col("l_returnflag") == "R", 1).otherwise(-1).alias("y"),
        F.lit(1).cast("long").alias("x0"),
        F.col("l_quantity").cast("long").alias("x1"),
        F.round(F.col("l_discount") * 100, 0).cast("long").alias("x2"),
    )

    def one_round(weights: DataFrame) -> DataFrame:
        p = pts.crossJoin(F.broadcast(weights))
        margin = F.col("y") * (
            F.col("w0") * F.col("x0")
            + F.col("w1") * F.col("x1")
            + F.col("w2") * F.col("x2")
        )
        mis = F.when(margin <= 0, 1).otherwise(0)
        return p.groupBy("w0", "w1", "w2").agg(
            F.sum(mis * F.col("y") * F.col("x0")).cast("long").alias("d0"),
            F.sum(mis * F.col("y") * F.col("x1")).cast("long").alias("d1"),
            F.sum(mis * F.col("y") * F.col("x2")).cast("long").alias("d2"),
        ).select(
            (F.col("w0") + F.col("d0")).cast("long").alias("w0"),
            (F.col("w1") + F.col("d1")).cast("long").alias("w1"),
            (F.col("w2") + F.col("d2")).cast("long").alias("w2"),
        )

    w1 = pts.agg(
        F.sum(F.col("y") * F.col("x0")).cast("long").alias("w0"),
        F.sum(F.col("y") * F.col("x1")).cast("long").alias("w1"),
        F.sum(F.col("y") * F.col("x2")).cast("long").alias("w2"),
    )
    w3 = one_round(one_round(w1))
    scored = pts.crossJoin(F.broadcast(w3))
    margin = F.col("y") * (
        F.col("w0") * F.col("x0")
        + F.col("w1") * F.col("x1")
        + F.col("w2") * F.col("x2")
    )
    return scored.groupBy("w0", "w1", "w2").agg(
        F.sum(F.when(margin <= 0, 1).otherwise(0))
        .cast("long")
        .alias("n_misclassified")
    )


@register(
    "ml_cohens_kappa",
    oracle="""
    WITH conf AS (
      SELECT CAST(sum(CASE WHEN l_quantity >= 25 AND l_returnflag = 'R'
                           THEN 1 ELSE 0 END) AS BIGINT) AS a,
             CAST(sum(CASE WHEN l_quantity >= 25 AND l_returnflag <> 'R'
                           THEN 1 ELSE 0 END) AS BIGINT) AS b,
             CAST(sum(CASE WHEN l_quantity < 25 AND l_returnflag = 'R'
                           THEN 1 ELSE 0 END) AS BIGINT) AS c,
             CAST(sum(CASE WHEN l_quantity < 25 AND l_returnflag <> 'R'
                           THEN 1 ELSE 0 END) AS BIGINT) AS d
      FROM lineitem)
    SELECT a, b, c, d,
           CAST((a + b + c + d) * (a + d)
                - ((a + b) * (a + c) + (c + d) * (b + d)) AS BIGINT)
             AS kappa_num,
           CAST((a + b + c + d) * (a + b + c + d)
                - ((a + b) * (a + c) + (c + d) * (b + d)) AS BIGINT)
             AS kappa_den,
           CAST((a + b + c + d) * (a + d)
                - ((a + b) * (a + c) + (c + d) * (b + d)) AS DOUBLE)
             / CAST((a + b + c + d) * (a + b + c + d)
                    - ((a + b) * (a + c) + (c + d) * (b + d)) AS DOUBLE)
             AS kappa
    FROM conf
    """,
)
def ml_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COHEN'S KAPPA — chance-corrected agreement between a fixed
    quantity-threshold classifier and the actual return flag: accuracy
    alone flatters any predictor on an imbalanced label (predict-never-R
    scores ~75%); kappa subtracts the agreement the marginals produce by
    chance. Clearing denominators turns (po−pe)/(1−pe) into a pure
    rational in the four confusion counts — κ = (N(a+d) − Σmarg) /
    (N² − Σmarg) — so exact BIGINT numerator/denominator come out of ONE
    conditional aggregate over one scan (N² ≤ 3.6e11 at sf0.1, far
    inside BIGINT), and the unrounded DOUBLE quotient hash-matches.
    Complements the threshold-sweep entry (`ml_confusion_threshold_
    sweep` gives the operating curve; this gives the skill-vs-chance
    scalar)."""
    li = read_table(spark, sf_dir, "lineitem")
    pred = F.col("l_quantity") >= 25
    actual = F.col("l_returnflag") == "R"
    conf = li.agg(
        F.sum(F.when(pred & actual, 1).otherwise(0)).cast("long").alias("a"),
        F.sum(F.when(pred & ~actual, 1).otherwise(0)).cast("long").alias("b"),
        F.sum(F.when(~pred & actual, 1).otherwise(0)).cast("long").alias("c"),
        F.sum(F.when(~pred & ~actual, 1).otherwise(0)).cast("long").alias("d"),
    )
    n = F.col("a") + F.col("b") + F.col("c") + F.col("d")
    marg = (F.col("a") + F.col("b")) * (F.col("a") + F.col("c")) + (
        F.col("c") + F.col("d")
    ) * (F.col("b") + F.col("d"))
    num = (n * (F.col("a") + F.col("d")) - marg).cast("long")
    den = (n * n - marg).cast("long")
    return conf.select(
        "a",
        "b",
        "c",
        "d",
        num.alias("kappa_num"),
        den.alias("kappa_den"),
        (num.cast("double") / den.cast("double")).alias("kappa"),
    )


@register(
    "ml_matthews_corrcoef",
    oracle="""
    WITH conf AS (
      SELECT CAST(sum(CASE WHEN l_quantity >= 25 AND l_returnflag = 'R'
                           THEN 1 ELSE 0 END) AS BIGINT) AS a,
             CAST(sum(CASE WHEN l_quantity >= 25 AND l_returnflag <> 'R'
                           THEN 1 ELSE 0 END) AS BIGINT) AS b,
             CAST(sum(CASE WHEN l_quantity < 25 AND l_returnflag = 'R'
                           THEN 1 ELSE 0 END) AS BIGINT) AS c,
             CAST(sum(CASE WHEN l_quantity < 25 AND l_returnflag <> 'R'
                           THEN 1 ELSE 0 END) AS BIGINT) AS d
      FROM lineitem)
    SELECT a, b, c, d,
           CAST(a * d - b * c AS BIGINT) AS mcc_num,
           CAST(a * d - b * c AS DOUBLE)
             / sqrt(CAST(a + b AS DOUBLE) * CAST(a + c AS DOUBLE)
                    * CAST(c + d AS DOUBLE) * CAST(b + d AS DOUBLE))
             AS mcc
    FROM conf
    """,
)
def ml_matthews_corrcoef(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATTHEWS CORRELATION COEFFICIENT — the third skill scalar over
    the same one-scan confusion counts as `ml_cohens_kappa` (kappa:
    chance-corrected agreement; threshold sweep: the operating curve;
    MCC: the Pearson correlation of the two binary vectors, the metric
    that stays honest when BOTH classes are rare). Numerator ad−bc is
    exact BIGINT (≤ ~1.3e13 at sf0.1); the denominator's four marginal
    products would overflow BIGINT multiplied out, so each factor casts
    to double FIRST and the fixed multiply/sqrt/divide sequence is
    IEEE-identical across engines — the unrounded DOUBLE hash-matches
    (stats_ols discipline). The MCC≡Pearson identity is pinned against
    numpy in tests/test_properties.py (shared-fragment sweep section)."""
    li = read_table(spark, sf_dir, "lineitem")
    pred = F.col("l_quantity") >= 25
    actual = F.col("l_returnflag") == "R"
    conf = li.agg(
        F.sum(F.when(pred & actual, 1).otherwise(0)).cast("long").alias("a"),
        F.sum(F.when(pred & ~actual, 1).otherwise(0)).cast("long").alias("b"),
        F.sum(F.when(~pred & actual, 1).otherwise(0)).cast("long").alias("c"),
        F.sum(F.when(~pred & ~actual, 1).otherwise(0)).cast("long").alias("d"),
    )
    a, b, c, d = (F.col(x) for x in "abcd")
    num = (a * d - b * c).cast("long")
    den = F.sqrt(
        (a + b).cast("double")
        * (a + c).cast("double")
        * (c + d).cast("double")
        * (b + d).cast("double")
    )
    return conf.select(
        "a", "b", "c", "d",
        num.alias("mcc_num"),
        (num.cast("double") / den).alias("mcc"),
    )


@register(
    "ml_isotonic_pav",
    oracle="""
    WITH m AS (
      SELECT o_orderpriority AS prio,
             CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
               AS month_idx,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS s,
             CAST(count(*) AS BIGINT) AS w
      FROM orders GROUP BY 1, 2),
    p AS (
      SELECT prio, month_idx,
             sum(s) OVER (PARTITION BY prio ORDER BY month_idx) AS cs,
             sum(w) OVER (PARTITION BY prio ORDER BY month_idx) AS cw,
             row_number() OVER (PARTITION BY prio ORDER BY month_idx) AS r
      FROM m),
    p0 AS (
      SELECT prio, 0 AS r, CAST(0 AS HUGEINT) AS cs,
             CAST(0 AS HUGEINT) AS cw
      FROM (SELECT DISTINCT prio FROM m)
      UNION ALL SELECT prio, r, cs, cw FROM p),
    seg AS (
      SELECT t.prio, sp.r + 1 AS si, t.r AS ti, t.month_idx AS tmi,
             ((t.cs - sp.cs) * 1000000) // (t.cw - sp.cw) AS a_fp
      FROM p t JOIN p0 sp ON t.prio = sp.prio AND sp.r < t.r),
    rmin AS (
      SELECT prio, si, ti, tmi,
             min(a_fp) OVER (PARTITION BY prio, si ORDER BY ti DESC) AS m_fp
      FROM seg)
    SELECT prio, tmi AS month_idx, CAST(max(m_fp) AS BIGINT) AS fit_fp
    FROM rmin GROUP BY prio, tmi
    """,
)
def ml_isotonic_pav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISOTONIC REGRESSION via pool-adjacent-violators (PAV) — the
    principled monotone fit behind isotonic score calibration (the
    binned cousin is ``ml_calibration_bins``): per order priority, fit
    the best non-decreasing approximation (least squares, weighted) to
    the monthly mean order value. The heavy pass is a distributed
    group-by (per priority × month integer moments: cents sum + count);
    PAV itself runs per group in ``applyInPandas`` over the AGGREGATED
    series — bounded by the time axis (~80 months), not row count, so
    the sequential step never sees fact-table scale (the production
    calibration shape: bucket scores into k bins first, PAV over k).
    Pool merging compares block means as cross-multiplied integer
    rationals (sum_a·w_b > sum_b·w_a) — no float ever enters — and the
    emitted fit is exact fixed-point ``(block_sum·10⁶) // block_w``.

    Oracle: the textbook minimax characterization, fit[i] =
    max_{s≤i} min_{t≥i} avg(y[s..t]), computed exactly over all O(n²)
    prefix-difference segments (n = months, so trivially bounded) with
    the same fixed-point floor — floor is monotone, so it commutes with
    the min/max lattice and the truncated minimax equals the truncated
    PAV fit. The equivalence PAV ≡ minimax (and the committed oracle
    SQL itself) is pinned from first principles against a from-scratch
    ``fractions.Fraction`` PAV in tests/test_properties.py."""
    import pandas as pd

    o = read_table(spark, sf_dir, "orders")
    m = (
        o.groupBy(
            F.col("o_orderpriority").alias("prio"),
            (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
            .cast("long")
            .alias("month_idx"),
        )
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long"))
            .cast("long")
            .alias("s"),
            F.count("*").cast("long").alias("w"),
        )
    )

    def pav(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("month_idx").reset_index(drop=True)
        # blocks of pooled [sum, weight, n_points]; merge while the
        # previous block's mean EXCEEDS the current one (violator):
        # exact integer cross-multiplication, never a float division
        blocks: list[list[int]] = []
        for s, w in zip(pdf["s"], pdf["w"]):
            blocks.append([int(s), int(w), 1])
            while (
                len(blocks) >= 2
                and blocks[-2][0] * blocks[-1][1]
                > blocks[-1][0] * blocks[-2][1]
            ):
                top = blocks.pop()
                blocks[-1][0] += top[0]
                blocks[-1][1] += top[1]
                blocks[-1][2] += top[2]
        fits: list[int] = []
        for s, w, c in blocks:
            fits.extend([(s * 1000000) // w] * c)
        out = pdf[["prio", "month_idx"]].copy()
        out["fit_fp"] = fits
        return out

    return m.groupBy("prio").applyInPandas(
        pav, schema="prio string, month_idx long, fit_fp long"
    )


@register(
    "ml_target_encoding_loo",
    oracle="""
    WITH rows_y AS (
      SELECT o_custkey % 97 AS cat,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders),
    cat_stats AS (
      SELECT cat, CAST(count(*) AS BIGINT) AS cn,
             CAST(sum(y) AS BIGINT) AS cs
      FROM rows_y GROUP BY cat),
    gstats AS (
      SELECT CAST(count(*) AS BIGINT) AS gn, CAST(sum(y) AS BIGINT) AS gs
      FROM rows_y),
    cells AS (
      SELECT cat, y, CAST(count(*) AS BIGINT) AS n
      FROM rows_y GROUP BY cat, y)
    SELECT c.cat AS cat, c.y AS y, c.n AS n,
           CAST(CASE WHEN s.cn > 1
                THEN ((s.cs - c.y) * 1000000) // (s.cn - 1)
                ELSE NULL END AS BIGINT) AS loo_fp,
           CAST((((s.cs - c.y) * g.gn + 10 * g.gs) * 1000000)
                // ((s.cn - 1 + 10) * g.gn) AS BIGINT) AS smooth_fp
    FROM cells c JOIN cat_stats s ON c.cat = s.cat CROSS JOIN gstats g
    """,
)
def ml_target_encoding_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAVE-ONE-OUT TARGET ENCODING — the feature-engineering operator
    that replaces a high-cardinality categorical with the target mean of
    its category EXCLUDING the row itself (plain target-mean encoding
    leaks the label; LOO is the standard fix), plus the m-estimate
    smoothed variant that shrinks rare categories toward the global
    prior: enc = (S_cat − y + m·ȳ_global) / (N_cat − 1 + m), m = 10.
    Both are exact fixed-point BIGINT rationals (cross-multiplied by the
    global count so no division happens before the final floored 10⁶
    scaling). Within a category every row with the same label gets the
    same encoding, so the per-row operator is VERIFIED at (category,
    label) granularity — the output is the distinct encoding table the
    join-back would broadcast.

    Shape at 100 TB: two tiny aggregates (per-category counts — 97
    rows — and one global row) + a broadcast join back; the fact table
    never shuffles. The encoding table is exactly the model artifact a
    training pipeline persists between runs."""
    o = read_table(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % 97).alias("cat"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    cat_stats = o.groupBy("cat").agg(
        F.count("*").cast("long").alias("cn"),
        F.sum("y").cast("long").alias("cs"),
    )
    glob = o.agg(
        F.count("*").cast("long").alias("gn"),
        F.sum("y").cast("long").alias("gs"),
    )
    cells = o.groupBy("cat", "y").agg(F.count("*").cast("long").alias("n"))
    j = cells.join(F.broadcast(cat_stats), "cat").crossJoin(
        F.broadcast(glob)
    )
    return j.select(
        "cat",
        F.col("y").cast("int").alias("y"),
        "n",
        F.when(
            F.col("cn") > 1,
            F.expr("((cs - y) * 1000000) div (cn - 1)"),
        )
        .cast("long")
        .alias("loo_fp"),
        F.expr(
            "(((cs - y) * gn + 10 * gs) * 1000000) div ((cn - 1 + 10) * gn)"
        )
        .cast("long")
        .alias("smooth_fp"),
    )


@register(
    "ml_random_forest_stumps",
    oracle="""
    WITH pts AS (
      SELECT CAST(l_quantity AS BIGINT) AS q,
             CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS d,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS pos,
             l_orderkey::VARCHAR || '|' || l_linenumber::VARCHAR AS rid
      FROM lineitem),
    hashed AS (
      SELECT t2.range AS b, q, d, pos,
             ('0x' || substr(md5(rid || '|rf' || t2.range::VARCHAR),
                             1, 8))::BIGINT % 10000 AS h
      FROM pts CROSS JOIN range(0, 9) t2),
    bagged AS (
      SELECT b, q, d, pos,
             CASE
               WHEN h < 3679 THEN 0 WHEN h < 7358 THEN 1
               WHEN h < 9197 THEN 2 WHEN h < 9810 THEN 3 ELSE 4
             END AS m
      FROM hashed),
    dom AS (
      SELECT b, q, d, pos, CAST(sum(m) AS BIGINT) AS cnt
      FROM bagged GROUP BY b, q, d, pos),
    per_t AS (
      SELECT b, 'q' AS feat, q AS t,
             CAST(sum(cnt * pos) AS BIGINT) AS wpos,
             CAST(sum(cnt * (1 - pos)) AS BIGINT) AS wneg
      FROM dom GROUP BY b, q
      UNION ALL
      SELECT b, 'd' AS feat, d AS t,
             CAST(sum(cnt * pos) AS BIGINT) AS wpos,
             CAST(sum(cnt * (1 - pos)) AS BIGINT) AS wneg
      FROM dom GROUP BY b, d),
    cum AS (
      SELECT b, feat, t,
             CAST(sum(wpos) OVER (PARTITION BY b, feat ORDER BY t)
                  AS BIGINT) AS wpos_l,
             CAST(sum(wneg) OVER (PARTITION BY b, feat ORDER BY t)
                  AS BIGINT) AS wneg_l,
             CAST(sum(wpos) OVER (PARTITION BY b, feat) AS BIGINT)
               AS wpos_tot,
             CAST(sum(wneg) OVER (PARTITION BY b, feat) AS BIGINT)
               AS wneg_tot
      FROM per_t),
    cands AS (
      SELECT b, feat, t, 1 AS pol,
             wneg_l + (wpos_tot - wpos_l) AS mis
      FROM cum
      WHERE (wpos_tot + wneg_tot) - (wpos_l + wneg_l) > 0
      UNION ALL
      SELECT b, feat, t, 0 AS pol,
             wpos_l + (wneg_tot - wneg_l) AS mis
      FROM cum
      WHERE (wpos_tot + wneg_tot) - (wpos_l + wneg_l) > 0),
    best AS (
      SELECT b, feat, t, pol
      FROM (SELECT b, feat, t, pol,
                   row_number() OVER (PARTITION BY b
                                      ORDER BY mis, feat, t, pol) AS rn
            FROM cands)
      WHERE rn = 1),
    cells AS (
      SELECT q, d,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(pos) AS BIGINT) AS n_pos
      FROM pts GROUP BY q, d),
    votes AS (
      SELECT c.q, c.d,
             CAST(sum(CASE WHEN (CASE WHEN bs.feat = 'q' THEN c.q
                                      ELSE c.d END) <= bs.t
                           THEN bs.pol ELSE 1 - bs.pol END) AS BIGINT)
               AS votes
      FROM cells c CROSS JOIN best bs GROUP BY c.q, c.d)
    SELECT c.q, c.d, v.votes,
           CAST(2 * v.votes > 9 AS BOOLEAN) AS pred,
           c.n_rows, c.n_pos
    FROM cells c JOIN votes v ON c.q = v.q AND c.d = v.d
    """,
)
def ml_random_forest_stumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANDOM FOREST of decision stumps — the BAGGING ensemble that
    completes the family next to boosting (``ml_adaboost_stumps``) and
    single trees: 9 bootstrap replicates, each a derandomized Poisson(1)
    resample (the ``stats_bootstrap_poisson`` e^{-1}-ladder on md5
    buckets, salt ``rf<b>``), each training its own best stump over
    both features and polarities by exact integer weighted 0-1 loss
    (total-order argmin on (mis, feat, t, pol) — deterministic), with
    final prediction by MAJORITY VOTE (9 odd → no ties). Output is the
    per-(q,d)-cell vote count + verdict + true class counts, so the
    driver hash pins every bag's learned stump through its votes, not
    just the final confusion totals.

    Everything runs LOOP-FREE on both engines: Spark explodes the
    compacted (q,d,pos) domain ×9 bags (domain ≤ ~1.1k rows — the
    explode is over the AGGREGATE, never the fact table; the fact scan
    computes the 9 bag counts as conditional sums in ONE pass) and the
    per-bag argmin is a window row_number — no driver-side model
    artifact at all, the whole forest lives in a 9-row frame. At 100 TB
    the single fan-out-free scan is the entire data-proportional cost."""
    from irio_mapreduce_spark.io import spread_scan, table_path
    from irio_mapreduce_spark.llm.sampling import hash_bucket

    # r12 (guide §2.5): the 9-bag md5 partial aggregate — the entry's
    # dominant cost — ran as one task on the single-row-group bench
    # parquet; spread the 5 projected columns first (no-op once the input
    # splits at scale). Same fix as stats_permutation_test.
    pts = spread_scan(
        spark,
        read_table(spark, sf_dir, "lineitem").select(
            F.col("l_quantity").cast("long").alias("q"),
            F.floor(F.col("l_discount") * 100 + 0.5).cast("long").alias("d"),
            F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("pos"),
            "l_orderkey",
            "l_linenumber",
        ),
        table_path(sf_dir, "lineitem"),
    )

    def pois(b: int):
        h = hash_bucket(
            ["l_orderkey", "l_linenumber"], n_buckets=10000, salt=f"rf{b}"
        )
        return (
            F.when(h < 3679, 0)
            .when(h < 7358, 1)
            .when(h < 9197, 2)
            .when(h < 9810, 3)
            .otherwise(4)
        )

    dom_wide = pts.groupBy("q", "d", "pos").agg(
        F.count("*").cast("long").alias("n_rows"),
        *[
            F.sum(pois(b)).cast("long").alias(f"cnt_{b}")
            for b in range(9)
        ],
    )
    dom = dom_wide.select(
        "q",
        "d",
        "pos",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("b"), F.col(f"cnt_{b}").alias("cnt")
                    )
                    for b in range(9)
                ]
            )
        ).alias("bc"),
    ).select(
        "q", "d", "pos", F.col("bc.b").alias("b"), F.col("bc.cnt").alias("cnt")
    ).persist()  # r12: read twice (q- and d-threshold groupings) — without
    # the barrier each branch replays the 9-bag md5 scan of the fact table
    per_t = (
        dom.groupBy("b", F.col("q").alias("t"))
        .agg(
            F.sum(F.col("cnt") * F.col("pos")).cast("long").alias("wpos"),
            F.sum(F.col("cnt") * (1 - F.col("pos")))
            .cast("long")
            .alias("wneg"),
        )
        .select("b", F.lit("q").alias("feat"), "t", "wpos", "wneg")
        .unionAll(
            dom.groupBy("b", F.col("d").alias("t"))
            .agg(
                F.sum(F.col("cnt") * F.col("pos")).cast("long").alias("wpos"),
                F.sum(F.col("cnt") * (1 - F.col("pos")))
                .cast("long")
                .alias("wneg"),
            )
            .select("b", F.lit("d").alias("feat"), "t", "wpos", "wneg")
        )
    )
    wc = (
        Window.partitionBy("b", "feat")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy("b", "feat")
    cum = per_t.select(
        "b",
        "feat",
        "t",
        F.sum("wpos").over(wc).cast("long").alias("wpos_l"),
        F.sum("wneg").over(wc).cast("long").alias("wneg_l"),
        F.sum("wpos").over(wt).cast("long").alias("wpos_tot"),
        F.sum("wneg").over(wt).cast("long").alias("wneg_tot"),
    ).filter(
        (F.col("wpos_tot") + F.col("wneg_tot"))
        - (F.col("wpos_l") + F.col("wneg_l"))
        > 0
    )
    cands = cum.select(
        "b",
        "feat",
        "t",
        F.lit(1).alias("pol"),
        (F.col("wneg_l") + (F.col("wpos_tot") - F.col("wpos_l"))).alias(
            "mis"
        ),
    ).unionAll(
        cum.select(
            "b",
            "feat",
            "t",
            F.lit(0).alias("pol"),
            (F.col("wpos_l") + (F.col("wneg_tot") - F.col("wneg_l"))).alias(
                "mis"
            ),
        )
    )
    wbest = Window.partitionBy("b").orderBy("mis", "feat", "t", "pol")
    best = (
        cands.withColumn("rn", F.row_number().over(wbest))
        .filter(F.col("rn") == 1)
        .select("b", "feat", "t", "pol")
    )
    cells = pts.groupBy("q", "d").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum("pos").cast("long").alias("n_pos"),
    ).persist()  # r12: read by the vote pass AND the final join — one
    # compacted-domain scan instead of two full fact-table scans
    feat_val = F.when(F.col("feat") == "q", F.col("q")).otherwise(F.col("d"))
    votes = (
        cells.crossJoin(F.broadcast(best))
        .select(
            "q",
            "d",
            F.when(feat_val <= F.col("t"), F.col("pol"))
            .otherwise(1 - F.col("pol"))
            .alias("vote"),
        )
        .groupBy("q", "d")
        .agg(F.sum("vote").cast("long").alias("votes"))
    )
    return cells.join(votes, ["q", "d"]).select(
        "q",
        "d",
        "votes",
        (2 * F.col("votes") > 9).alias("pred"),
        "n_rows",
        "n_pos",
    )


@register(
    "ml_cumulative_gains_deciles",
    oracle="""
    WITH labeled AS (
      SELECT c_mktsegment AS segment, c_custkey,
             CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS score,
             CAST(coalesce(max(CASE WHEN o_orderstatus = 'F'
                                    THEN 1 END), 0) AS BIGINT) AS label
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY 1, 2, 3),
    tiled AS (
      SELECT segment, label,
             CAST(ntile(10) OVER (PARTITION BY segment
                                  ORDER BY score DESC, c_custkey)
                  AS BIGINT) AS decile
      FROM labeled),
    per_decile AS (
      SELECT segment, decile,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(label) AS BIGINT) AS n_pos
      FROM tiled GROUP BY 1, 2)
    SELECT segment, decile, n, n_pos,
           CAST(sum(n_pos) OVER (PARTITION BY segment ORDER BY decile
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS BIGINT) AS cum_pos,
           CAST(sum(n) OVER (PARTITION BY segment ORDER BY decile
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS BIGINT) AS cum_n
    FROM per_decile
    """,
)
def ml_cumulative_gains_deciles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CUMULATIVE GAINS / LIFT TABLE — the decile analysis every
    targeting model ships with: rank the population by model score,
    cut into 10 equal bins, and report how many positives each
    cumulative prefix captures; lift@decile d = (cum_pos/cum_n) /
    (P/N) follows by scalar math from the emitted BIGINT cells. (AUC
    — ``ml_auc_exact`` — integrates this curve; the deciles are what
    the campaign team actually reads.) Score = account balance cents
    (the repo's standing linear-scorer proxy), label = customer has a
    fully-shipped order, per market segment. Decile assignment is
    ``ntile(10)`` over (score DESC, custkey) — the tiebreak makes the
    cut deterministic, and ntile's ceiling-first-remainder split is
    identical in Spark and DuckDB (the parity the
    ``window_distribution_ranks`` entry already attests); cumulative
    cells come from a 10-row running window. Everything BIGINT.

    Scale shape: the fact table collapses to per-customer labels via
    one map-side-combinable groupBy BEFORE any ranking, so the ntile
    sorts only |customers| rows per segment (the compacted-grain
    window discipline of ``stats_gini_concentration``); the gains
    table itself is 50 rows. At 100 TB the label aggregation is the
    only full-data pass."""
    labeled = (
        read_table(spark, sf_dir, "customer")
        .select(
            F.col("c_mktsegment").alias("segment"),
            "c_custkey",
            F.floor(F.col("c_acctbal") * 100 + 0.5)
            .cast("long")
            .alias("score"),
        )
        .join(
            read_table(spark, sf_dir, "orders").select(
                "o_custkey", "o_orderstatus"
            ),
            F.col("c_custkey") == F.col("o_custkey"),
            "left",
        )
        .groupBy("segment", "c_custkey", "score")
        .agg(
            F.coalesce(
                F.max(F.when(F.col("o_orderstatus") == "F", 1)), F.lit(0)
            )
            .cast("long")
            .alias("label")
        )
    )
    w = Window.partitionBy("segment").orderBy(
        F.col("score").desc(), "c_custkey"
    )
    tiled = labeled.select(
        "segment", "label", F.ntile(10).over(w).cast("long").alias("decile")
    )
    per_decile = tiled.groupBy("segment", "decile").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("label").cast("long").alias("n_pos"),
    )
    wc = (
        Window.partitionBy("segment")
        .orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return per_decile.select(
        "segment",
        "decile",
        "n",
        "n_pos",
        F.sum("n_pos").over(wc).cast("long").alias("cum_pos"),
        F.sum("n").over(wc).cast("long").alias("cum_n"),
    )


@register(
    "ml_kfold_cv_stump",
    oracle="""
    WITH pts AS (
      SELECT l_orderkey % 5 AS f,
             CAST(l_quantity AS BIGINT) AS q,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS pos
      FROM lineitem),
    hist AS (
      SELECT f, q, CAST(count(*) AS BIGINT) AS n_q,
             CAST(sum(pos) AS BIGINT) AS pos_q
      FROM pts GROUP BY 1, 2),
    folds AS (SELECT DISTINCT f FROM hist),
    train AS (
      SELECT folds.f, h.q,
             CAST(sum(h.n_q) AS BIGINT) AS n_q,
             CAST(sum(h.pos_q) AS BIGINT) AS pos_q
      FROM folds JOIN hist h ON h.f <> folds.f
      GROUP BY 1, 2),
    cum AS (
      SELECT f, q,
             sum(n_q) OVER w AS n_l, sum(pos_q) OVER w AS pos_l,
             sum(n_q) OVER (PARTITION BY f) AS n,
             sum(pos_q) OVER (PARTITION BY f) AS pos_tot
      FROM train WINDOW w AS (PARTITION BY f ORDER BY q)),
    cand AS (
      SELECT f, q AS t, n_l, pos_l, n - n_l AS n_r,
             pos_tot - pos_l AS pos_r
      FROM cum WHERE n_l > 0 AND n - n_l > 0),
    scored AS (
      SELECT f, t, n_l, n_r, pos_l, pos_r,
             2 * (CAST(pos_l AS HUGEINT) * (n_l - pos_l) * n_r
                  + CAST(pos_r AS HUGEINT) * (n_r - pos_r) * n_l) AS num,
             CAST(n_l AS HUGEINT) * n_r AS den
      FROM cand),
    best AS (
      SELECT * FROM scored a
      WHERE NOT EXISTS (
        SELECT 1 FROM scored b
        WHERE b.f = a.f
          AND (b.num * a.den < a.num * b.den
               OR (b.num * a.den = a.num * b.den AND b.t < a.t)))),
    leaves AS (
      SELECT f, t,
             CASE WHEN 2 * pos_l > n_l THEN 1 ELSE 0 END AS maj_l,
             CASE WHEN 2 * pos_r > n_r THEN 1 ELSE 0 END AS maj_r
      FROM best),
    eval AS (
      SELECT l.f, l.t, l.maj_l, l.maj_r,
             CAST(sum(h.n_q) AS BIGINT) AS n_test,
             CAST(sum(CASE
               WHEN h.q <= l.t THEN
                 CASE WHEN l.maj_l = 1 THEN h.pos_q
                      ELSE h.n_q - h.pos_q END
               ELSE
                 CASE WHEN l.maj_r = 1 THEN h.pos_q
                      ELSE h.n_q - h.pos_q END
             END) AS BIGINT) AS n_correct
      FROM leaves l JOIN hist h ON h.f = l.f
      GROUP BY 1, 2, 3, 4)
    SELECT CAST(f AS BIGINT) AS fold, CAST(t AS BIGINT) AS best_threshold,
           CAST(maj_l AS BIGINT) AS maj_left,
           CAST(maj_r AS BIGINT) AS maj_right,
           n_test, n_correct
    FROM eval
    """,
)
def ml_kfold_cv_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-FOLD CROSS-VALIDATION — the evaluation PROTOCOL operator the
    model entries lacked: 5 derandomized folds (l_orderkey % 5 — the
    md5/mod reproducibility device of the sampling family), and for
    each fold a CART stump (``ml_decision_stump``'s exact-integer
    Gini argmin — cross-multiplied HUGEINT/DECIMAL(38) comparison,
    smallest-threshold tiebreak) is trained on the OTHER four folds and
    scored on the held-out fold: per-fold best threshold, training
    leaf majorities, and held-out (n_test, n_correct) — every output
    BIGINT, the whole protocol bit-reproducible. Mean held-out
    accuracy and its fold spread (the generalization estimate CV
    exists for) follow by scalar math from the 5 rows.

    Scale shape: ONE grouped pass compacts the fact table to the
    (fold × distinct-quantity) histogram — ~250 rows; train folds are
    LOO-complements built by the 5×histogram join on that compacted
    grain (never rescanning data, the leave-one-out complement trick
    of ``ml_target_encoding_loo``); per-fold windows, the dominance
    anti-join and held-out scoring all run broadcast-sized. At 100 TB:
    one scan, then arithmetic."""
    dec = "decimal(38,0)"
    pts = read_table(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") % 5).alias("f"),
        F.col("l_quantity").cast("long").alias("q"),
        F.when(F.col("l_returnflag") == "R", F.lit(1))
        .otherwise(F.lit(0))
        .alias("pos"),
    )
    hist = pts.groupBy("f", "q").agg(
        F.count("*").cast("long").alias("n_q"),
        F.sum("pos").cast("long").alias("pos_q"),
    )
    folds = hist.select("f").distinct().select(F.col("f").alias("ff"))
    train = (
        folds.join(hist, F.col("f") != F.col("ff"))
        .groupBy("ff", "q")
        .agg(
            F.sum("n_q").cast("long").alias("n_q"),
            F.sum("pos_q").cast("long").alias("pos_q"),
        )
    )
    w = (
        Window.partitionBy("ff")
        .orderBy("q")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wt = Window.partitionBy("ff")
    cum = (
        train.withColumn("n_l", F.sum("n_q").over(w))
        .withColumn("pos_l", F.sum("pos_q").over(w))
        .withColumn("n", F.sum("n_q").over(wt))
        .withColumn("pos_tot", F.sum("pos_q").over(wt))
    )
    cand = cum.filter(
        (F.col("n_l") > 0) & (F.col("n") - F.col("n_l") > 0)
    ).select(
        "ff",
        F.col("q").alias("t"),
        "n_l",
        "pos_l",
        (F.col("n") - F.col("n_l")).alias("n_r"),
        (F.col("pos_tot") - F.col("pos_l")).alias("pos_r"),
    )
    scored = cand.select(
        "ff",
        "t",
        "n_l",
        "n_r",
        "pos_l",
        "pos_r",
        (
            F.lit(2).cast(dec)
            * (
                F.col("pos_l").cast(dec)
                * (F.col("n_l") - F.col("pos_l"))
                * F.col("n_r")
                + F.col("pos_r").cast(dec)
                * (F.col("n_r") - F.col("pos_r"))
                * F.col("n_l")
            )
        ).alias("num"),
        (F.col("n_l").cast(dec) * F.col("n_r")).alias("den"),
    )
    other = scored.select(
        F.col("ff").alias("b_ff"),
        F.col("t").alias("b_t"),
        F.col("num").alias("b_num"),
        F.col("den").alias("b_den"),
    )
    best = scored.join(
        F.broadcast(other),
        (F.col("b_ff") == F.col("ff"))
        & (
            (F.col("b_num") * F.col("den") < F.col("num") * F.col("b_den"))
            | (
                (F.col("b_num") * F.col("den") == F.col("num") * F.col("b_den"))
                & (F.col("b_t") < F.col("t"))
            )
        ),
        "left_anti",
    )
    leaves = best.select(
        "ff",
        "t",
        F.when(2 * F.col("pos_l") > F.col("n_l"), 1)
        .otherwise(0)
        .alias("maj_l"),
        F.when(2 * F.col("pos_r") > F.col("n_r"), 1)
        .otherwise(0)
        .alias("maj_r"),
    )
    correct = F.when(
        F.col("q") <= F.col("t"),
        F.when(F.col("maj_l") == 1, F.col("pos_q")).otherwise(
            F.col("n_q") - F.col("pos_q")
        ),
    ).otherwise(
        F.when(F.col("maj_r") == 1, F.col("pos_q")).otherwise(
            F.col("n_q") - F.col("pos_q")
        )
    )
    return (
        leaves.join(hist, F.col("f") == F.col("ff"))
        .groupBy("ff", "t", "maj_l", "maj_r")
        .agg(
            F.sum("n_q").cast("long").alias("n_test"),
            F.sum(correct).cast("long").alias("n_correct"),
        )
        .select(
            F.col("ff").cast("long").alias("fold"),
            F.col("t").cast("long").alias("best_threshold"),
            F.col("maj_l").cast("long").alias("maj_left"),
            F.col("maj_r").cast("long").alias("maj_right"),
            "n_test",
            "n_correct",
        )
    )
