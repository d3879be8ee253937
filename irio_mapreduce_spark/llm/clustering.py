"""Embedding clustering and classification: fixed-point Lloyd's k-means
and exact k-NN majority-vote classification over an ``array<float>``
column.

Reference parity note: the reference (a generic MapReduce runtime, see
SURVEY.md §0) ships no ML surface; iterative k-means is THE canonical
"chained MapReduce batches" workload (each iteration = one map(assign) /
reduce(re-center) pass over the corpus), so it belongs to the declared
§2.2 surface the same way PageRank does. In an LLM data pipeline the
clusters drive mixture balancing, SemDeDup-style pruning
(``llm.dedup.semdedup``), and topic-stratified sampling.

Cross-engine exactness: like ``operators.graph.pagerank``, every
arithmetic step is **fixed-point BIGINT** — components are scaled once by
``KMEANS_SCALE`` with ``floor`` (the double multiply is correctly rounded
and engine-independent), distances are exact integer sums of squares, and
re-centering is exact integer sum ``div`` count. Floating-point k-means
cannot promise a bit-identical oracle: summation order across partitions
is nondeterministic, and a centroid differing in the last ulp can flip an
argmin near a Voronoi boundary, cascading into different clusters. The
integer formulation has no such freedom — any engine, any partitioning,
same clusters.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from irio_mapreduce_spark.operators.topk import top_k_per_group

#: Fixed-point scale for embedding components: 1.0 == 10^6 units. Unit
#: vectors scale to ~±10^6; squared diffs ≤ ~4·10^12, × dims (64-4096)
#: stays far inside int64 (headroom ~9.2e18 / 4e12 ≈ 2.3e6 dims).
KMEANS_SCALE = 10**6


def scaled_vec(col: Column) -> Column:
    """``array<float>`` → ``array<bigint>`` fixed-point at KMEANS_SCALE.

    ``float→double`` widening is exact, the ``×10^6`` double multiply is
    correctly rounded (IEEE, engine-independent), and ``floor`` of a
    double is exact — so two engines always produce the same integers.
    """
    return F.transform(
        col, lambda x: F.floor(x.cast("double") * KMEANS_SCALE).cast("long")
    )


def _sq_dist(a: Column, b: Column) -> Column:
    """Exact integer squared L2 distance between two bigint arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _assign_expr(centroids: list[list[int]]) -> Column:
    """argmin over the centroid list of the exact squared distance to the
    fixed-point vector column ``_sv``; ties break to the LOWEST cluster id
    (``array_position`` returns the first match). Centroids are a plan
    literal — k×dims ints, the broadcast-side of a map-only stage."""
    dists = F.array(
        *[_sq_dist(F.col("_sv"), F.array(*[F.lit(c) for c in cent])) for cent in centroids]
    )
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def kmeans_init(sv: DataFrame, k: int) -> list[list[int]]:
    """Deterministic centroid init: the ``k`` lowest-``_id`` rows' scaled
    vectors, in id order. Bounded collect (k × dims ints)."""
    init = sv.orderBy("_id").limit(k).orderBy("_id").select("_sv").collect()
    if len(init) < k:
        raise ValueError(f"k={k} but only {len(init)} rows")
    return [list(r._sv) for r in init]


def kmeans_round(
    sv: DataFrame, centroids: list[list[int]]
) -> tuple[DataFrame, list[list[int]]]:
    """ONE Lloyd's round over a scaled corpus ``(_id, _sv)``: map-only
    assignment against the plan-literal centroid list, then exact-integer
    re-centering (sum div count per (cluster, dim); empty clusters carry
    their previous centroid forward). Returns the assignment frame
    ``(_id, _sv, _c)`` (clusters as of the INPUT centroids) and the
    updated centroid list — the unit both the batch iterator
    (:func:`kmeans_fixed_point`) and the streaming model-maintenance
    handler (:func:`kmeans_stream_round_handler`) chain, so the two
    surfaces share one arithmetic definition and hash-match each other.

    Scale shape: assignment shuffles nothing (centroids ride the plan as
    a k×dims literal); re-centering is one posexplode + groupBy(cluster,
    dim) shuffle of (int, int, long) triples — k×dims groups regardless
    of corpus size — and one bounded k×dims collect."""
    assigned = sv.select("_id", "_sv", _assign_expr(centroids).alias("_c"))
    new_rows = (
        assigned.select("_c", F.posexplode("_sv").alias("_pos", "_x"))
        .groupBy("_c", "_pos")
        .agg(F.expr("sum(_x) div count(*)").alias("_m"))
        .groupBy("_c")
        .agg(F.array_sort(F.collect_list(F.struct("_pos", "_m"))).alias("_ms"))
        .select("_c", F.transform("_ms", lambda s: s["_m"]).alias("_cent"))
        .collect()
    )
    updated = [list(c) for c in centroids]
    for r in new_rows:
        updated[r._c] = list(r._cent)
    return assigned, updated


def kmeans_stream_round_handler(model_dir: str, k: int):
    """``foreachBatch`` handler that maintains a PERSISTED k-means model:
    each micro-batch carries the (scaled) corpus and executes exactly ONE
    Lloyd's round against the newest persisted centroid generation, then
    writes generation ``batch_id``'s centroids and assignment — the
    streaming twin of the reference's only loop construct, chaining
    batches through ``final_dest_dir_id`` (common/common.proto:19): round
    i's output directory is round i+1's model input.

    Replay idempotence (the retry/first-wins contract of
    TaskManagerImpl.java:42-43 on the streaming engine): a re-run of
    micro-batch i reads only generations BELOW i and overwrites only
    generation i, so a crash-restart between triggers converges to the
    same artifacts — pinned by tests/test_streaming.py alongside the
    dedup index-maintenance twin (llm.dedup.index_maintenance_handler).

    Batch 0 initializes from the k lowest-id rows (the batch IS the
    corpus), so the final generation equals ``kmeans_fixed_point(...,
    iterations=n_batches)`` bit-for-bit — the catalog entry pins that
    with the batch entry's own DuckDB oracle."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        import glob as _glob
        import os as _os

        spark = batch_df.sparkSession
        # Two jobs read the batch (re-centering collect inside
        # kmeans_round, then the assignment write) — persist so the
        # micro-batch source and the k x dims distance arithmetic are
        # paid once, mirroring kmeans_fixed_point's persisted corpus.
        sv = batch_df.select("_id", "_sv").persist()
        gens = sorted(
            g
            for g in (
                int(_os.path.basename(p)[1:])
                for p in _glob.glob(_os.path.join(model_dir, "cent", "r*"))
            )
            if g < batch_id
        )
        if gens:
            rows = spark.read.parquet(
                _os.path.join(model_dir, "cent", f"r{gens[-1]}")
            ).collect()
            centroids: list[list[int]] = [[] for _ in range(k)]
            for r in rows:
                centroids[r.cid] = list(r.c)
        else:
            centroids = kmeans_init(sv, k)
        try:
            assigned, updated = kmeans_round(sv, centroids)
            # assignment first: it must exist whenever its centroid
            # generation does (the entry reads asg of the LAST round)
            assigned.select("_id", "_c").write.mode("overwrite").parquet(
                _os.path.join(model_dir, "asg", f"r{batch_id}")
            )
            spark.createDataFrame(
                [(i, c) for i, c in enumerate(updated)],
                "cid int, c array<bigint>",
            ).write.mode("overwrite").parquet(
                _os.path.join(model_dir, "cent", f"r{batch_id}")
            )
        finally:
            sv.unpersist()

    return handle


def kmeans_fixed_point(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int,
    iterations: int,
) -> DataFrame:
    """Lloyd's k-means in exact fixed-point arithmetic: ``iterations``
    rounds of (assign to nearest centroid, re-center), deterministically
    initialized from the ``k`` lowest-``id_col`` rows' vectors. Returns
    ``(id, cluster)`` with cluster ids ``0..k-1`` in init order.

    Scale shape per round: assignment is a MAP-ONLY stage (centroids ride
    the plan as a k×dims literal — no join, no shuffle), re-centering is
    one posexplode + groupBy(cluster, dim) shuffle of (int, int, long)
    triples — k×dims groups regardless of corpus size — followed by one
    bounded ``collect`` of k×dims ints (the same driver-artifact contract
    as the IVF/PQ quantizer fits in ``llm.similarity``; at production
    scale the fit runs on a capped sample and the final assignment makes
    one full pass). Sums stay exact: |component| ≤ KMEANS_SCALE·|x|, and
    a BIGINT holds ~9.2e18 — overflow needs > 9e12 rows per cluster at
    unit-scale embeddings.

    Deterministic init from sorted ids is what makes the oracle replay
    possible; production would seed with k-means|| over a hash-sample —
    the iteration body (the expensive part) is identical.

    Empty clusters keep their previous centroid (standard Lloyd's
    fallback), expressed by re-centering only over observed clusters and
    carrying forward the rest.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    # Every round's assignment AND re-centering (plus the init take) read
    # the scaled corpus; persist keeps it one scan instead of 2·iters+1
    # (lineage stays planner-visible, same stance as triangle_count).
    sv = df.select(
        F.col(id_col).alias("_id"), scaled_vec(F.col(vec_col)).alias("_sv")
    ).persist()
    centroids = kmeans_init(sv, k)
    assigned = None
    for _ in range(iterations):
        assigned, centroids = kmeans_round(sv, centroids)
    return assigned.select(
        F.col("_id").alias("id"), F.col("_c").alias("cluster")
    )


def knn_classify(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    label_col: str,
    k: int,
) -> DataFrame:
    """Exact k-NN majority-vote classification: for each query vector, the
    ``k`` nearest corpus vectors by exact fixed-point squared L2 distance
    (ties by corpus id), then the majority label (ties by most votes, then
    lowest label). Returns ``(query_id, predicted_label, votes)``.

    All ranking keys are integers, so neighbor sets and votes are
    cross-engine exact — no float rank boundary can flip between engines.

    Scale shape: queries are the SMALL side by contract (a labeling batch,
    not the corpus); they broadcast and the corpus streams through one
    nested-loop stage scoring dims-length integer folds — the same
    bounded-broadcast shape as ``llm.similarity.cosine_topk``. The
    documented scale path for query sets that stop fitting a broadcast is
    the ANN index probe (``llm.similarity.ivf_topk``) followed by this
    exact re-rank on the candidate shortlist.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), scaled_vec(F.col(vec_col)).alias("_qv")
    )
    c = corpus.select(
        F.col(id_col).alias("_cid"),
        F.col(label_col).alias("_lab"),
        scaled_vec(F.col(vec_col)).alias("_cv"),
    )
    scored = c.crossJoin(F.broadcast(q)).select(
        "query_id", "_cid", "_lab", _sq_dist(F.col("_cv"), F.col("_qv")).alias("_d")
    )
    topk = top_k_per_group(
        scored, ["query_id"], [F.col("_d").asc(), F.col("_cid").asc()], k,
        rank_col="_rn",
    )
    votes = topk.groupBy("query_id", "_lab").agg(F.count("*").alias("votes"))
    return top_k_per_group(
        votes, ["query_id"], [F.col("votes").desc(), F.col("_lab").asc()], 1,
        rank_col="_rv",
    ).select(
        "query_id",
        F.col("_lab").alias("predicted_label"),
        F.col("votes").cast("long").alias("votes"),
    )


def power_iteration_fixed_point(m: list[list[int]], rounds: int) -> list[int]:
    """Fixed-point power iteration over an integer matrix: from the
    all-ones vector (scaled 1e6), each round computes x = M·v in exact
    Python bignum and renormalizes v' = (x·1e6) div max|x| with division
    TRUNCATING TOWARD ZERO — the semantics Spark ``DIV`` and DuckDB
    ``//`` share, which is what lets a SQL oracle replay the identical
    trajectory. Deterministic in sign and value for any round count; no
    convergence test inside (fixed rounds ARE the cross-engine
    contract — a data-dependent stop would diverge between engines at
    the stopping boundary)."""
    dims = len(m)

    def trunc_div(a: int, d: int) -> int:
        q = abs(a) // abs(d)
        return q if (a >= 0) == (d >= 0) else -q

    v = [10**6] * dims
    for _ in range(rounds):
        x = [sum(m[i][j] * v[j] for j in range(dims)) for i in range(dims)]
        mx = max(abs(xi) for xi in x)
        v = [trunc_div(xi * 10**6, mx) for xi in x]
    return v
