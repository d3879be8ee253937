"""Top-k operators.

Global top-k: ``orderBy(...).limit(k)`` — Spark plans TakeOrderedAndProject
(per-partition heap + driver merge of k·P rows), never a full global sort.
Per-group top-k: ``row_number`` over a window — one shuffle on the group key.
Both need a *deterministic total order*: callers pass unique tie-break
columns, same stance as SURVEY.md §7 "key-sorted reduce output".
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from irio_mapreduce_spark.operators.barrier import barrier


def top_k(df: DataFrame, order_by: list[Column], k: int) -> DataFrame:
    """Global top-k (TakeOrderedAndProject — no global sort)."""
    return df.orderBy(*order_by).limit(k)


def top_k_per_group(
    df: DataFrame,
    group_by: list[str],
    order_by: list[Column],
    k: int,
    rank_col: str = "rn",
    keep_rank: bool = False,
) -> DataFrame:
    """Top-k rows per group via ``row_number`` (dense per-group heap
    semantics; one shuffle on the group key)."""
    w = Window.partitionBy(*group_by).orderBy(*order_by)
    rank = F.col(rank_col)
    # a per-group argmax (k == 1) filters on equality, the form SQL writes it in
    out = df.withColumn(rank_col, F.row_number().over(w)).filter(
        rank == 1 if k == 1 else rank <= k
    )
    return out if keep_rank else out.drop(rank_col)


def global_rank(
    df: DataFrame,
    order_cols: list[str],
    rank_col: str = "rank",
    num_partitions: int | None = None,
) -> DataFrame:
    """DISTRIBUTED exact global ranking (1-based, dense total order) by
    ``order_cols`` — the TeraSort offset pattern, because the naive
    ``row_number() OVER (ORDER BY ...)`` plans an
    ``Exchange SinglePartition``: every row funnels through ONE reducer,
    which is exactly the bottleneck that cannot exist at 100 TB.

    Three bounded steps instead:

    1. ``repartitionByRange`` + ``sortWithinPartitions`` on the keys (the
       global-sort layout Spark itself uses for ``orderBy`` writes), then
       ``localCheckpoint`` so the partitioning is frozen — steps 2 and 3
       must observe the SAME placement.
    2. per-partition row counts (one tiny aggregate; #partitions rows to
       the driver) → exclusive prefix-sum offsets, broadcast back.
    3. per-partition local numbering (``mapInPandas`` with a running
       counter — rows arrive already sorted within the partition) plus
       the partition's offset.

    ``order_cols`` must form a deterministic total order (include a
    unique tie-break column, the module-docstring stance); range
    placement of equal keys then cannot change ranks. The checkpoint
    barrier also pins Spark's sampled range boundaries (sampling is
    seeded per-partition, but two separate actions over a live lineage
    could otherwise recompute inputs).

    Returns the input columns plus ``rank_col``. Cost: one range
    exchange + one map pass — the same budget as writing a globally
    sorted table.
    """
    import pandas as pd

    parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    laid = barrier(
        df.repartitionByRange(parts, *[F.col(c) for c in order_cols])
        .sortWithinPartitions(*[F.col(c) for c in order_cols])
        .withColumn("_pid", F.spark_partition_id())
    )
    counts = {
        r._pid: r.n
        for r in laid.groupBy("_pid").agg(F.count("*").alias("n")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    out_schema = laid.drop("_pid").schema.add(rank_col, "long")

    def number(batches):
        local = 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            off = offsets[int(pdf["_pid"].iloc[0])]
            pdf = pdf.drop(columns=["_pid"])
            pdf[rank_col] = pd.RangeIndex(
                off + local + 1, off + local + 1 + len(pdf)
            )
            local += len(pdf)
            yield pdf

    return laid.mapInPandas(number, schema=out_schema)


def ntile_from_rank(rank: Column, n_rows: Column, k: int) -> Column:
    """SQL ``NTILE(k)`` bucket from a 1-based global rank and the total
    row count — pure integer arithmetic (the first ``n mod k`` buckets
    get ``n div k + 1`` rows, the rest ``n div k``), so a distributed
    ``global_rank`` + this expression equals the single-reducer window
    exactly, on any engine.

    Divisions run on doubles (Column has no integer-div operator), exact
    while counts stay under 2^53 (~9e15 rows) — documented bound, far
    past a 100 TB row count."""
    big = n_rows % k  # buckets 1..big have size sz+1
    sz = F.floor(n_rows / k).cast("long")
    cut = big * (sz + 1)  # ranks <= cut live in the big buckets
    return (
        F.when(sz == 0, rank)  # n < k: one row per bucket
        .when(rank <= cut, F.floor((rank - 1) / (sz + 1)) + 1)
        .otherwise(big + F.floor((rank - cut - 1) / sz) + 1)
        .cast("int")
    )
