"""Embedding similarity search over ``array<float>`` columns.

:func:`cosine_topk` is the exact baseline: one query vector, cosine fused
into the corpus scan (``zip_with`` + ``aggregate``, JVM-side, no Python),
TakeOrdered for the top-k. It is the correctness oracle for everything
else, and :func:`cosine_pairs_bruteforce` is its all-pairs form.

The approximate searches take a query SET and share four stages (the
REPOSE / Odyssey decomposition of distributed similarity search):

1. **index** — partition or encode the corpus;
2. **candidates** — the ``(query, vector)`` pairs worth scoring;
3. **exact refine** — the ``digits``-rounded double cosine of each pair;
4. **top-k** — the ``k`` best per query, ties broken by ``vec_id``.

Only stage 2 differs between methods; stages 3 and 4, with the self-pair
drop, are one kernel (:func:`_refine_topk`). Candidate generators:

* :func:`ivf_topk` / :func:`ivf_topk_persisted` — k-means cells; each
  query's ``n_probe`` nearest cells, one equi-join on cell id;
* :func:`rp_lsh_topk` — multi-table random-hyperplane buckets, one
  equi-join on the exploded (table, bucket) key;
* :func:`rp_lsh_multiprobe_topk` — the same join, the query also probing
  each Hamming-1 neighbour bucket;
* :func:`pq_topk` — the ``shortlist·k`` nearest vectors per query by
  product-quantized asymmetric distance.

:func:`dedup_embedding_cosine` and :func:`semdedup` reuse the LSH buckets
and an anchor clustering as candidate steps for threshold dedup.

All math is done in double: float32 summation order would otherwise make
results diverge from any oracle computing in double.
"""

from __future__ import annotations

import os
import random
from typing import Callable

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from irio_mapreduce_spark.llm import artifacts
from irio_mapreduce_spark.llm.dedup import widen
from irio_mapreduce_spark.operators.barrier import barrier
from irio_mapreduce_spark.operators.topk import top_k_per_group


def as_double(vec_col: Column) -> Column:
    return F.transform(vec_col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array columns (JVM-side, no UDF)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    # try_divide: a zero vector yields NULL cosine (undefined angle) instead
    # of an ANSI DIVIDE_BY_ZERO mid-job — downstream threshold filters then
    # drop the row, which is the only sane semantics for it.
    return F.try_divide(dot(a, b), norm(a) * norm(b))


def _lit_vec(vec: list[float]) -> Column:
    return F.array(*[F.lit(float(v)) for v in vec])


def cosine_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query_vec: list[float],
    k: int = 10,
    digits: int = 6,
) -> DataFrame:
    """Exact top-k rows by cosine similarity to ``query_vec``.

    One narrow pass (similarity is computed inside the scan stage) followed
    by TakeOrdered — no global sort, no shuffle of the corpus. Deterministic
    tie-break on ``id_col``.
    """
    q = _lit_vec(query_vec)
    sim = F.round(cosine(as_double(F.col(vec_col)), q), digits)
    return (
        widen(df).select(F.col(id_col), sim.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def unit_vector(vec_col: Column) -> Column:
    """L2-normalized copy of the vector (double precision)."""
    v = as_double(vec_col)
    n = norm(v)
    # try_divide: the zero vector normalizes to all-NULL (no direction)
    # rather than raising under ANSI mode.
    return F.transform(v, lambda x: F.try_divide(x, n))


def cosine_pairs_bruteforce(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float,
    digits: int = 6,
) -> DataFrame:
    """All pairs with cosine >= threshold via the full cross product.

    O(n²·d): the exactness baseline for tests/oracles at small n. At corpus
    scale use the LSH-bucketed candidates (:func:`rp_lsh_topk` machinery) —
    same output contract without the quadratic join.

    Even the baseline is written not to fall over: vectors are L2-
    normalized ONCE per row (cosine degenerates to a plain dot product —
    1/3 of the naive per-pair flops), and the left side is widened so the
    nested-loop join parallelizes instead of running the n² loop in however
    few partitions the scan produced (a single parquet file otherwise
    serializes the whole product on one core)."""
    a = widen(df).select(
        F.col(id_col).alias("id1"), unit_vector(F.col(vec_col)).alias("_u1")
    )
    b = df.select(F.col(id_col).alias("id2"), unit_vector(F.col(vec_col)).alias("_u2"))
    sim = F.round(dot(F.col("_u1"), F.col("_u2")), digits)
    return (
        a.crossJoin(b)
        .filter(F.col("id1") < F.col("id2"))
        .withColumn("cosine", sim)
        .filter(F.col("cosine") >= threshold)
        .select("id1", "id2", "cosine")
    )


def _refine_topk(pairs: DataFrame, k: int, digits: int) -> DataFrame:
    """The exact-refine and top-k stages every approximate search shares.

    ``pairs`` holds unique candidate pairs ``(query_id, _qv, vec_id, _cv)``;
    a candidate step whose pairs can repeat dedupes them itself. Drops
    self-pairs, scores the rest by ``digits``-rounded double cosine and
    keeps the ``k`` best per query (ties by ``vec_id``) as ``(query_id,
    vec_id, cosine, rn)``. The per-query rank plans a WindowGroupLimit, so
    each task keeps at most ``k`` rows per query before the shuffle."""
    sim = F.round(cosine(as_double(F.col("_qv")), as_double(F.col("_cv"))), digits)
    scored = pairs.filter(F.col("query_id") != F.col("vec_id")).select(
        "query_id", "vec_id", sim.alias("cosine")
    )
    return top_k_per_group(
        scored, ["query_id"], [F.col("cosine").desc(), F.col("vec_id")], k,
        keep_rank=True,
    )


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic Gaussian hyperplanes (driver-side constants, shipped
    into the plan as literals — tiny: n_planes × dim doubles)."""
    rng = random.Random(seed)
    return [
        [rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)
    ]


def _table_buckets(
    vec_col: Column, planes: list[list[float]], n_tables: int, per_table: int
) -> Column:
    """Array of per-table LSH bucket keys (one long per table: table id in
    the high bits, the table's sign-pattern bucket in the low bits).

    Computed in ONE Arrow-batched pandas UDF as a numpy matmul
    (batch × planes^T), not as per-plane Catalyst expressions: the
    expression form is ``n_tables·per_table`` dot products of ``dim``
    LITERALS each — an interpreted-lambda tree whose analysis+eval cost
    dwarfs the arithmetic (measured ~12 s vs ~1 s on a 4k×64 corpus at 128
    planes). This is the sanctioned Pandas-UDF case: a wide dense linear
    map no built-in expresses efficiently. Sign decisions match the
    expression form except for projections exactly at 0.0 (measure-zero;
    both forms are deterministic run-to-run)."""
    p_mat = np.array(planes, dtype=np.float64)  # (L·p, d)
    weights = 1 << np.arange(per_table, dtype=np.int64)
    table_tag = np.arange(n_tables, dtype=np.int64) << 56

    @pandas_udf("array<long>")
    def keys(v: pd.Series) -> pd.Series:
        x = np.array(v.tolist(), dtype=np.float64)  # (b, d)
        signs = (x @ p_mat.T >= 0).reshape(len(x), n_tables, per_table)
        hashes = signs @ weights + table_tag  # (b, L)
        return pd.Series(list(hashes))

    return keys(vec_col)


def _lloyd_kmeans(x, k: int, seed: int, max_iter: int = 25):
    """Seeded k-means (k-means++ init, Lloyd iterations) over an (n, d)
    numpy array — the coarse-quantizer trainer for :func:`ivf_topk`.
    Deterministic for a fixed seed; empty clusters are re-seeded with the
    point farthest from its assigned centroid."""
    rng = np.random.default_rng(seed)
    n = len(x)
    if n == 0:
        raise ValueError(
            "k-means training sample is empty — the corpus has no rows (or "
            "a sample fraction drew none); pass train_fraction=1.0 or a "
            "non-empty corpus to ivf_topk"
        )
    k = min(k, n)
    # k-means++ seeding
    centers = [x[rng.integers(n)]]
    d2 = ((x - centers[0]) ** 2).sum(axis=1)
    for _ in range(1, k):
        probs = d2 / d2.sum() if d2.sum() > 0 else np.full(n, 1.0 / n)
        centers.append(x[rng.choice(n, p=probs)])
        d2 = np.minimum(d2, ((x - centers[-1]) ** 2).sum(axis=1))
    c = np.stack(centers)
    for _ in range(max_iter):
        dist = ((x[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
        assign = dist.argmin(axis=1)
        new_c = c.copy()
        for j in range(k):
            members = x[assign == j]
            if len(members):
                new_c[j] = members.mean(axis=0)
            else:
                new_c[j] = x[dist.min(axis=1).argmax()]
        if np.allclose(new_c, c):
            break
        c = new_c
    return c


def _train_sample(
    df: DataFrame, vec_col: str, seed: int, train_fraction: float | None, min_train_rows: int
) -> np.ndarray:
    """The quantizer training sample, collected as an (n, d) double array:
    the first ``min_train_rows`` rows when ``train_fraction`` is None, else
    a seeded sample. Quantizers train LOCALLY on it (the FAISS topology);
    a cluster-side iterative fit (MLlib KMeans) schedules one full job per
    iteration, ~20 jobs of pure overhead for a 2k-row problem."""
    feats = df.select(as_double(F.col(vec_col)).alias("_tv"))
    if train_fraction is None:
        feats = feats.limit(min_train_rows)
    elif train_fraction < 1.0:
        feats = feats.sample(fraction=train_fraction, seed=seed)
    return np.array(feats.toPandas()["_tv"].tolist(), dtype=np.float64)


def _assign_cells(df: DataFrame, vec_col: str, id_col: str, c_mat) -> DataFrame:
    """The IVF index table ``(vec_id, _cv, _cell)``: every corpus vector
    with its nearest centroid's cell id, widened so the probe join's
    corpus side parallelizes."""
    return widen(df).select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("_cv"),
        F.element_at(_nearest_cells(c_mat, F.col(vec_col), 1), 1).alias("_cell"),
    )


def ivf_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    digits: int = 6,
    train_fraction: float | None = None,
    min_train_rows: int = 2000,
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) index: a k-means coarse
    quantizer partitions the corpus into ``n_cells`` cells; each query
    probes its ``n_probe`` nearest cells and exact cosine re-ranks only
    those candidates. The FAISS-IVF topology on DataFrames:

    * index build (the KMeans fit) is the offline, cluster-wide step — the
      fit runs on a bounded SAMPLE of the corpus (k-means centroid quality
      needs a representative sample, not every row; FAISS trains IVF
      quantizers on ~max(10k, 50·n_cells) vectors regardless of corpus
      size) and broadcasts the centroids (tiny literal arrays in the
      plan). ``train_fraction=None`` takes the first ``min_train_rows``
      rows (``limit`` — one early-terminating job, no count of the full
      corpus; at 100 TB a filtered count is itself a job). Pass an
      explicit ``train_fraction`` when the leading rows are not
      representative (e.g. the table is sorted by the embedding source);
      iterating KMeans over the full corpus would be n_iter full scans
      for no recall gain either way;
    * search is ONE equi-join on cell id — candidates per query ≈
      n_probe/n_cells of the corpus, and cells are hash-distributed so a
      popular cell is still one join key, not a task straggler (AQE skew
      splitting applies).

    Recall rises with n_probe (n_probe = n_cells degenerates to brute
    force); tests/test_llm.py bounds it against the exact path.
    """
    c_mat = _lloyd_kmeans(
        _train_sample(df, vec_col, seed, train_fraction, min_train_rows), n_cells, seed
    )  # (k, d)
    corpus = _assign_cells(df, vec_col, id_col, c_mat)
    return _ivf_search(corpus, queries, c_mat, vec_col, id_col, k, n_probe, digits)


def _nearest_cells(c_mat, vec: Column, n: int) -> Column:
    # n nearest centroid ids per row, one Arrow-batched numpy pass
    # (same rationale as _table_buckets: a dense distance map to k
    # centroids as Catalyst literal expressions is an interpreted tree
    # whose cost is all overhead). Ties break by cell id — stable
    # argsort — matching the (dist, cell) struct-sort it replaces.
    @pandas_udf("array<int>")
    def cells(v: pd.Series) -> pd.Series:
        xb = np.array(v.tolist(), dtype=np.float64)  # (b, d)
        d2 = ((xb**2).sum(1)[:, None] - 2 * xb @ c_mat.T
              + (c_mat**2).sum(1)[None, :])
        order = np.argsort(d2, axis=1, kind="stable")[:, :n].astype(np.int32)
        return pd.Series(list(order))

    return cells(vec)


def _ivf_search(
    corpus: DataFrame,
    queries: DataFrame,
    c_mat,
    vec_col: str,
    id_col: str,
    k: int,
    n_probe: int,
    digits: int,
) -> DataFrame:
    """The probe half of IVF: queries pick their ``n_probe`` nearest cells
    and ONE equi-join on cell id collects the candidates (unique: a vector
    sits in one cell, a query probes distinct cells) for the refine
    kernel. ``corpus`` is the pre-assigned ``(vec_id, _cv, _cell)`` table
    — built in-process by :func:`ivf_topk` or scanned from a persisted
    index by :func:`ivf_topk_persisted`."""
    qs = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        F.explode(_nearest_cells(c_mat, F.col(vec_col), n_probe)).alias("_cell"),
    )
    return _refine_topk(qs.join(corpus, "_cell"), k, digits)


_IVF_SUBTABLES = ("centroids", "assign")


def build_ivf_index(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    out_dir: str,
    n_cells: int = 16,
    seed: int = 42,
    train_fraction: float | None = None,
    min_train_rows: int = 2000,
) -> None:
    """Materialize the IVF index as parquet — the offline half of the
    FAISS topology made durable, so serving pays only the probe:

    * ``centroids/`` — ``(_cell, _centroid array<double>)``: the trained
      coarse quantizer (tiny; collected back at probe time);
    * ``assign/``    — ``(vec_id, _cv, _cell)``: every corpus vector with
      its nearest cell, PRE-ASSIGNED (the full-corpus Arrow pass over the
      quantizer runs once at build time, never per query batch), written
      pre-widened so the probe scan parallelizes.

    Commit protocol and parameter round-trip via ``llm.artifacts`` (the
    same manifest discipline as the dedup index: ``n_cells``/``seed``
    bake into the artifacts; a torn build or rebuild is never probed).
    At 100 TB ``assign/`` is additionally partitioned BY ``_cell`` so a
    probe reads only its n_probe cells' files (partition pruning)."""
    c_mat = _lloyd_kmeans(
        _train_sample(df, vec_col, seed, train_fraction, min_train_rows), n_cells, seed
    )
    artifacts.begin_build(out_dir)
    spark = df.sparkSession
    spark.createDataFrame(
        [(i, [float(v) for v in c_mat[i]]) for i in range(len(c_mat))],
        "_cell int, _centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(out_dir, "centroids"))
    _assign_cells(df, vec_col, id_col, c_mat).write.mode("overwrite").parquet(
        os.path.join(out_dir, "assign")
    )
    artifacts.commit(out_dir, {"n_cells": n_cells, "seed": seed})


def ivf_topk_persisted(
    index_dir: str,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 10,
    n_probe: int = 4,
    digits: int = 6,
) -> DataFrame:
    """Approximate top-k against a persisted :func:`build_ivf_index`
    directory: the quantizer is collected back from ``centroids/`` (one
    tiny scan), the corpus side is a plain scan of the pre-assigned
    ``assign/`` table — no training, no corpus assignment pass. The
    steady-state ANN serving shape."""
    spark = queries.sparkSession
    params = artifacts.committed_params(index_dir, _IVF_SUBTABLES)
    if params is None:
        raise ValueError(
            f"IVF index at {index_dir} is missing or torn (no _COMMITTED "
            "manifest / sub-table _SUCCESS) — rebuild with build_ivf_index"
        )
    cent = (
        spark.read.parquet(os.path.join(index_dir, "centroids"))
        .orderBy("_cell")
        .collect()
    )
    if len(cent) != params["n_cells"]:
        raise ValueError(
            f"IVF index at {index_dir}: {len(cent)} centroids on disk but "
            f"manifest says n_cells={params['n_cells']}"
        )
    c_mat = np.array([r._centroid for r in cent], dtype=np.float64)
    corpus = spark.read.parquet(os.path.join(index_dir, "assign"))
    return _ivf_search(corpus, queries, c_mat, vec_col, id_col, k, n_probe, digits)


def dedup_embedding_cosine(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.99,
    n_tables: int = 8,
    planes_per_table: int = 16,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-duplicate DEDUP: drop every row that has a
    lower-``id_col`` neighbor with cosine >= ``threshold``; keep the rest.

    The near-dup relation SQL-expressibly deduplicated (one pass, not
    transitive-closure clustering): survivor set = rows with NO smaller-id
    neighbor above the threshold — deterministic, order-independent.

    Scale shape: candidates come from the multi-table random-hyperplane
    LSH bucket join (never all-pairs), exact cosine verifies candidates,
    and one left-anti join drops the losers. Recall follows the banding
    math (1-(1-(1-θ/π)^p)^L — effectively 1 as θ→0, i.e. for genuinely
    near-identical vectors); SCALE-VARIANT duplicates (c·v, c>0 — e.g.
    un-normalized re-encodes, the case byte-level exact dedup cannot see)
    are caught with recall exactly 1: multiplying by a positive scalar
    never flips a projection sign, so every table buckets c·v with v.
    """
    keys = _table_buckets(F.col(vec_col), random_hyperplanes(dim, n_tables * planes_per_table, seed), n_tables, planes_per_table)
    # Materialize (id, vec, bucket-key array) ONCE before the explode
    # (eager barrier): ``banded`` feeds BOTH sides of the bucket self-join,
    # and without the barrier the Arrow-batched projection UDF (the whole
    # LSH bucketing pass) and the corpus scan replay per side. Checkpointing
    # BEFORE the explode keeps the barrier at one row per vector — the
    # persisted-LSH-index shape (fingerprints, not payload fan-out).
    sig = barrier(
        widen(df).select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).alias("_v"),
            keys.alias("_keys"),
        )
    )
    banded = sig.select(
        "_id",
        "_v",
        F.explode("_keys").alias("_bucket"),
    )
    a = banded.select(F.col("_id").alias("_id1"), F.col("_v").alias("_v1"), "_bucket")
    b = banded.select(F.col("_id").alias("_id2"), F.col("_v").alias("_v2"), "_bucket")
    losers = (
        a.join(b, "_bucket")
        .filter(F.col("_id1") < F.col("_id2"))
        .dropDuplicates(["_id1", "_id2"])
        .filter(
            cosine(as_double(F.col("_v1")), as_double(F.col("_v2"))) >= threshold
        )
        .select(F.col("_id2").alias(id_col))
        .distinct()
    )
    return df.join(losers, id_col, "left_anti")


def semdedup(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    anchors: DataFrame,
    anchor_id_col: str = "cid",
    anchor_vec_col: str = "av",
    threshold: float = 0.99,
    digits: int = 6,
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    cluster the corpus by nearest anchor, generate candidate pairs ONLY
    within a cluster, and among each near-duplicate pair keep the member
    with the LOWER similarity to its cluster centroid (the paper's
    diversity-preserving retention rule — the "most typical" copy is the
    redundant one).

    ``anchors`` is the coarse clustering (anchor_id, anchor_vector); the
    paper shows cluster *quality* barely matters, only that clusters bound
    the candidate set, so any cheap deterministic quantizer works.

    Deterministic end-to-end: assignment is argmax of the ``digits``-rounded
    cosine with ties broken by smaller anchor id; the retention rule breaks
    equal centroid-similarities by smaller ``id_col``.

    Scale shape (100 TB): anchors are broadcast (one BroadcastNestedLoopJoin,
    no corpus shuffle) and the argmax is a map-side-combining groupBy — k
    candidate rows per doc collapse to one before the exchange. Pair
    generation is ONE equi-join on the cluster id, so candidate pairs are
    quadratic only in cluster size: with k ∝ n anchors the expected cluster
    is O(1) rows and total work is linear in the corpus. A skewed/oversized
    cluster is an AQE skew-join split, or re-split by sub-quantizing the
    offending cluster's members; never all-pairs (tests/test_plans.py's
    CartesianProduct sweep covers the entry). Per-row norms are computed
    ONCE before either join and carried through (IEEE-identical to inline
    ``cosine()`` — same sqrt-of-sum expression, same ``dot/(n1*n2)``
    division shape), so each candidate pair costs one dot product, not
    three array aggregates; the cheap keep-direction predicate runs before
    the dot so only ordered pairs pay it.

    Returns (id_col, cluster_id, cent_sim, dropped) — one row per input row.
    """
    a_small = F.broadcast(
        anchors.select(
            F.col(anchor_id_col).alias("_acid"),
            as_double(F.col(anchor_vec_col)).alias("_av"),
        ).withColumn("_an", norm(F.col("_av")))
    )
    scored = (
        widen(df)
        .select(F.col(id_col).alias("_id"), as_double(F.col(vec_col)).alias("_v"))
        .withColumn("_n", norm(F.col("_v")))
        .crossJoin(a_small)
        .select(
            "_id",
            "_v",
            "_n",
            "_acid",
            F.round(
                F.try_divide(
                    dot(F.col("_v"), F.col("_av")), F.col("_n") * F.col("_an")
                ),
                digits,
            ).alias("_cs"),
        )
    )
    # argmax(cs) with min-cid tie-break as max(struct(cs, -cid)): one
    # partial-aggregable reduction, no window shuffle of k rows per doc.
    # Materialize the assignment table ONCE (eager barrier): it feeds
    # BOTH sides of the within-cluster pair join AND the final
    # keep/drop join — three references that would each replay the
    # broadcast×anchors scoring pass (k interpreted dot products per
    # corpus row, the operator's dominant cost). One row per input
    # vector — the SemDeDup "cluster assignment" artifact a production
    # run would persist anyway.
    assign = barrier(
        scored.groupBy("_id")
        .agg(
            F.max(F.struct(F.col("_cs"), (-F.col("_acid")).alias("_nc"))).alias("_m"),
            F.first("_v").alias("_v"),
            F.first("_n").alias("_n"),
        )
        .select(
            "_id",
            "_v",
            "_n",
            (-F.col("_m._nc")).alias("_cid"),
            F.col("_m._cs").alias("_cent"),
        )
    )
    left = assign.select(
        F.col("_id").alias("_id1"),
        F.col("_v").alias("_v1"),
        F.col("_n").alias("_n1"),
        F.col("_cent").alias("_c1"),
        "_cid",
    )
    right = assign.select(
        F.col("_id").alias("_id2"),
        F.col("_v").alias("_v2"),
        F.col("_n").alias("_n2"),
        F.col("_cent").alias("_c2"),
        "_cid",
    )
    dropped = (
        left.join(right, "_cid")
        # ordered-direction predicate first (implies _id1 != _id2): the
        # expensive dot below then runs on half the within-cluster pairs.
        .filter(
            (F.col("_c1") < F.col("_c2"))
            | ((F.col("_c1") == F.col("_c2")) & (F.col("_id1") < F.col("_id2")))
        )
        .filter(
            F.round(
                F.try_divide(
                    dot(F.col("_v1"), F.col("_v2")), F.col("_n1") * F.col("_n2")
                ),
                digits,
            )
            >= threshold
        )
        .select(F.col("_id2").alias("_id"))
        .distinct()
        .withColumn("_dropped", F.lit(True))
    )
    return assign.join(dropped, "_id", "left").select(
        F.col("_id").alias(id_col),
        F.col("_cid").alias("cluster_id"),
        F.col("_cent").alias("cent_sim"),
        F.coalesce(F.col("_dropped"), F.lit(False)).alias("dropped"),
    )


def _lsh_candidates(
    df: DataFrame, vec_col: str, id_col: str, queries: DataFrame, n_tables: int,
    planes_per_table: int, dim: int, seed: int, probes: Callable[[Column], Column],
) -> DataFrame:
    """The LSH candidate step: the corpus indexed once per table as
    exploded (table, bucket) keys, the queries' ``probes(keys)`` keys
    exploded the same way, ONE equi-join on the key, and the pairs that
    collide in several tables deduped. Returns unique ``(query_id, _qv,
    vec_id, _cv)`` pairs for :func:`_refine_topk`.

    The join and its dedupe carry ids only; the vectors join back after,
    once per unique pair. That needs ``id_col`` unique in ``df`` and in
    ``queries`` (one vector per id, as in the catalog's ``embeddings``),
    or a pair would pick up every vector of a repeated id."""
    planes = random_hyperplanes(dim, n_tables * planes_per_table, seed)

    def keys(vec: str) -> Column:
        return _table_buckets(F.col(vec), planes, n_tables, planes_per_table)

    corpus = widen(df).select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_cv"))
    qs = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv"))
    index = corpus.select("vec_id", F.explode(keys("_cv")).alias("_bucket"))
    probed = qs.select("query_id", F.explode(probes(keys("_qv"))).alias("_bucket"))
    ids = probed.join(index, "_bucket").select("query_id", "vec_id").distinct()
    return ids.join(qs, "query_id").join(corpus, "vec_id")


def rp_lsh_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    queries: DataFrame,
    k: int = 10,
    n_tables: int = 8,
    planes_per_table: int = 4,
    dim: int = 64,
    seed: int = 42,
    digits: int = 6,
) -> DataFrame:
    """Approximate per-query top-k via MULTI-TABLE random-hyperplane LSH.

    One table of p planes has collision probability (1-θ/π)^p — too low for
    moderately-similar vectors; L independent tables union their candidates,
    lifting recall to 1-(1-(1-θ/π)^p)^L while each table's buckets stay
    selective. Candidates come from ONE equi-join on the exploded
    (table, bucket) key; exact cosine re-ranks candidates only. L and p are
    the recall/cost dials; the brute-force path is the recall oracle
    (tests/test_llm.py).

    ``queries``: DataFrame with the same ``id_col``/``vec_col`` schema.
    Returns (query_id, vec_id, cosine, rn<=k).
    """
    pairs = _lsh_candidates(
        df, vec_col, id_col, queries, n_tables, planes_per_table, dim, seed,
        probes=lambda keys: keys,
    )
    return _refine_topk(pairs, k, digits)


def rp_lsh_multiprobe_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    queries: DataFrame,
    k: int = 10,
    n_tables: int = 8,
    planes_per_table: int = 4,
    dim: int = 64,
    seed: int = 42,
    digits: int = 6,
) -> DataFrame:
    """MULTI-PROBE random-hyperplane LSH (Lv et al., VLDB'07): the query
    probes its own bucket PLUS every bucket at Hamming distance 1 in each
    table's sign pattern (flip one plane's sign bit — the buckets a
    near-boundary neighbor most likely fell into), so p+1 probes per
    table buy the recall that single-probe LSH needs extra TABLES for.
    The 100 TB consequence is index SIZE: the corpus is stored once per
    table, so halving the table count at equal recall halves the index;
    only the query side fans out, and queries are the small side by
    definition.

    Mechanically the corpus indexes EXACTLY as in :func:`rp_lsh_topk`
    (one exploded (table, bucket) row per table); the probe expansion is
    a per-query ``transform``+``flatten`` over the key array (XOR of one
    low bit per plane; the table tag rides the high bits untouched), and
    candidates still come from ONE equi-join — same shuffle shape, L·(p+1)
    query rows instead of L. Exact cosine re-ranks candidates only.
    Returns (query_id, vec_id, cosine, rn<=k)."""

    def probe_set(key: Column) -> Column:
        return F.array(
            key, *[key.bitwiseXOR(F.lit(1 << j)) for j in range(planes_per_table)]
        )

    pairs = _lsh_candidates(
        df, vec_col, id_col, queries, n_tables, planes_per_table, dim, seed,
        probes=lambda keys: F.flatten(F.transform(keys, probe_set)),
    )
    return _refine_topk(pairs, k, digits)


def pq_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    queries: DataFrame,
    k: int = 10,
    m: int = 8,
    ksub: int = 16,
    shortlist: int = 8,
    seed: int = 42,
    digits: int = 6,
    min_train_rows: int = 2000,
) -> DataFrame:
    """Approximate top-k via PRODUCT QUANTIZATION + asymmetric distance
    computation (ADC) — the FAISS-PQ topology on DataFrames, completing
    the ANN family (RP-LSH buckets, IVF cells, and now compressed-domain
    scan): the vector is split into ``m`` subspaces, each encoded as its
    nearest of ``ksub`` per-subspace k-means centroids, so a ``d``-dim
    float32 vector becomes ``m`` small codes (here 8 codes ≈ 32 bits vs
    256 bytes — the compressed-domain representation a 100 TB corpus
    scans instead of raw vectors).

    * Index build (offline, like :func:`ivf_topk`): codebooks fit locally
      on a bounded ``limit`` sample (no full-corpus job), one seeded
      k-means per subspace; corpus ENCODE is one Arrow-batched numpy pass
      emitting the m-code array.
    * Search: each query precomputes an (m × ksub) distance table to the
      codebooks (driver-side — queries are few and the tables are tiny
      literals in the UDF closure); the corpus scan sums m table lookups
      per row — no vector arithmetic, no shuffle of raw vectors. The ADC
      top-``shortlist``·k candidates per query are exact-cosine re-ranked
      (the standard refine step) to the final top-k.

    Vectors are L2-NORMALIZED before training/encoding/table
    construction: the final metric is cosine, and on the unit sphere the
    ADC's L2 ordering IS the cosine ordering (on raw vectors the two
    orderings diverge and recall collapses — measured 0.2 at sf0.1
    before normalization, ≥0.6 after). The exact re-rank uses raw
    vectors (cosine is scale-invariant).

    Deterministic for a fixed seed. Approximate by design: recall is
    bounded in tests/test_llm.py and surfaced through the catalog's
    recall-validation rows."""

    def _unit(a: "np.ndarray") -> "np.ndarray":
        n = np.linalg.norm(a, axis=1, keepdims=True)
        n[n == 0] = 1.0
        return a / n

    x = _unit(_train_sample(df, vec_col, seed, None, min_train_rows))
    d = x.shape[1]
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m} subspaces")
    dsub = d // m
    books = np.stack(
        [
            _lloyd_kmeans(x[:, j * dsub : (j + 1) * dsub], ksub, seed + j)
            for j in range(m)
        ]
    )  # (m, ksub, dsub)

    @pandas_udf("array<int>")
    def encode(v: pd.Series) -> pd.Series:
        xb = np.array(v.tolist(), dtype=np.float64)  # (b, d)
        nrm = np.linalg.norm(xb, axis=1, keepdims=True)
        nrm[nrm == 0] = 1.0
        xb = xb / nrm
        codes = np.empty((len(xb), m), dtype=np.int32)
        for j in range(m):
            sub = xb[:, j * dsub : (j + 1) * dsub]  # (b, dsub)
            cb = books[j]  # (ksub, dsub)
            d2 = (
                (sub**2).sum(1)[:, None] - 2 * sub @ cb.T + (cb**2).sum(1)[None, :]
            )
            codes[:, j] = d2.argmin(axis=1)
        return pd.Series(list(codes))

    # query distance tables: (n_q, m, ksub) — queries are few by contract
    q_rows = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("_qv")
    ).toPandas()
    q_ids = q_rows["query_id"].tolist()
    qx = _unit(np.array(q_rows["_qv"].tolist(), dtype=np.float64))
    tables = np.stack(
        [
            np.stack(
                [
                    ((books[j] - qv[j * dsub : (j + 1) * dsub]) ** 2).sum(axis=1)
                    for j in range(m)
                ]
            )
            for qv in qx
        ]
    )  # (n_q, m, ksub)

    @pandas_udf("array<double>")
    def adc(codes: pd.Series) -> pd.Series:
        cb = np.array(codes.tolist(), dtype=np.int64)  # (b, m)
        # sum_j tables[q, j, code_j] for every query q: (n_q, b)
        dists = tables[:, np.arange(m)[None, :], cb].sum(axis=2)
        return pd.Series(list(dists.T))

    corpus = widen(df).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_cv")
    )
    coded = corpus.withColumn("_adc", adc(encode(F.col("_cv"))))
    # The shortlist holds shortlist·k OTHER vectors per query: the query's
    # own row (ADC distance = its quantization error, usually the minimum)
    # is excluded before the rank so it cannot take a slot.
    cand = (
        coded.select(
            "vec_id",
            "_cv",
            F.posexplode("_adc").alias("_qi", "_dist"),
        )
        .withColumn("query_id", F.element_at(F.lit(q_ids), F.col("_qi") + 1))
        .filter(F.col("query_id") != F.col("vec_id"))
    )
    short = top_k_per_group(
        cand, ["query_id"], [F.col("_dist"), F.col("vec_id")], shortlist * k
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    )
    return _refine_topk(short.join(F.broadcast(qv), "query_id"), k, digits).select(
        "query_id", "vec_id", "cosine"
    )
