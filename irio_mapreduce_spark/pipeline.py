"""The reference's Batch pipeline API, Spark-first.

A reference **Batch** (``src/main/proto/common/common.proto:14-23``) is::

    map_bin_ids (chain) -> partition_bin_id (hash key -> R buckets)
    -> reduce_bin_ids (chain, one run per bucket)
    input_id -> final_dest_dir_id, with split_count / r_num parallelism.

Semantics guaranteed here, matching the reference contract:

* **map chain** — per-record transforms, composed in order (reference
  ``MapProcessor.java:56-83`` ping-pongs tmp files; Spark fuses the chain
  into one whole-stage-codegen'd narrow stage — no intermediate
  materialization at all).
* **partition** — every record with the same key lands in the same one of
  exactly ``r_num`` partitions (reference ``README.md:41-42``,
  ``mr-bins/partition/partition.cpp:33-38``). Spark: one hash exchange.
  Bucket *membership* differs (C++ ``std::hash`` vs Spark's Murmur3) — the
  co-location contract is what's guaranteed, per SURVEY.md §7.
* **reduce chain** — composed in order. In :func:`submit_batch`'s faithful
  mode (``reduce_mode="partition"``) each ``reduce_fn`` receives one pandas
  frame **per key group** (all records for ONE key), not per hash bucket —
  stricter than the reference's whole-partition reducers
  (``ReduceProcessor.java:24-52``): per-key output is identical, but a
  reduce_fn computing cross-key/bucket-level results (e.g. per-bucket
  top-k) must use :func:`pipe_batch`, whose steps do see whole co-located
  partitions. Each chained ``reduce_fn`` pays its own groupBy shuffle.
* **sink** — ``r_num`` output partitions in ``dest`` (reference R9 +
  ``common.proto:22``). Intentional deviation: a hash bucket that received
  no keys produces no file (Spark's writer skips empty partitions), where
  the reference writes an empty file — at scale, empty-file padding is
  noise, and downstream Spark/DuckDB readers treat both identically.

Two execution modes:

* :func:`submit_batch` — the native mode: map/reduce steps are DataFrame
  transforms. The declarative path (``reduce_mode="agg"``) lets Catalyst do
  map-side partial aggregation, which the reference cannot (its reducers see
  full shuffled partitions only). The faithful path (``reduce_mode="partition"``)
  runs an Arrow-batched callable per co-located partition via ``mapInPandas``.
* :func:`pipe_batch` — binary-compatibility mode: records are text lines,
  steps are external commands run via ``RDD.pipe`` (the reference's
  fork/exec model, ``MapProcessor.java:69-79``) or Python line callables.
  This path is a Catalyst optimization barrier by nature — same as the
  reference, where *everything* is a barrier (SURVEY.md §4.1).

Fault tolerance (retry, speculation, first-wins commit — reference
``TaskManagerImpl.java:42-43,275-397``) is Spark config, not code here; see
``session.py``.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterable, Iterator
from dataclasses import dataclass, field
from typing import Any

from pyspark.errors import PySparkRuntimeError
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

MapFn = Callable[[DataFrame], DataFrame]
PartitionReduceFn = Callable[["pandas.DataFrame"], "pandas.DataFrame"]  # noqa: F821


@dataclass
class BatchSpec:
    """JSON-isomorphic equivalent of the reference Batch proto."""

    input_path: str
    dest_path: str | None = None
    input_format: str = "parquet"
    dest_format: str = "parquet"
    map_fns: list[MapFn] = field(default_factory=list)
    partition_key: str | Column | None = None
    r_num: int = 1
    split_count: int | None = None  # map-side parallelism; None = let Spark size splits
    # reduce_mode="agg": reduce_agg (list of Column agg exprs) grouped by partition_key
    # reduce_mode="partition": reduce_fns (pandas batch fns) per co-located partition
    reduce_mode: str = "agg"
    reduce_agg: list[Column] = field(default_factory=list)
    reduce_fns: list[PartitionReduceFn] = field(default_factory=list)
    reduce_schema: Any = None  # output schema for reduce_mode="partition"


def _map_phase(spark: SparkSession, spec: BatchSpec) -> DataFrame:
    df = spark.read.format(spec.input_format).load(spec.input_path)
    if spec.split_count:
        # Parity with Batch.split_count (common.proto:21). At scale prefer
        # leaving this None: spark.sql.files.maxPartitionBytes sizes splits.
        df = df.repartition(spec.split_count)
    for fn in spec.map_fns:
        df = fn(df)
    return df


def submit_batch(spark: SparkSession, spec: BatchSpec) -> DataFrame:
    """Execute a Batch; returns the result DataFrame (also written to
    ``dest_path`` as exactly ``r_num`` files when a dest is given).

    ``r_num`` is a *sink* contract (exactly-R output files,
    ``common.proto:22``) — it adds an exchange only on the write path. The
    returned DataFrame is left at Catalyst's chosen partitioning so that a
    dest-less batch pays exactly one shuffle (the group-by exchange), not two.
    """
    df = _map_phase(spark, spec)

    if spec.partition_key is not None:
        key = (
            F.col(spec.partition_key)
            if isinstance(spec.partition_key, str)
            else spec.partition_key
        )
        if spec.reduce_mode == "agg":
            # Declarative reduce: Catalyst inserts the hash exchange and a
            # map-side partial aggregate — strictly less shuffle traffic than
            # the reference's shuffle-everything model.
            df = df.groupBy(key).agg(*spec.reduce_agg)
        elif spec.reduce_mode == "partition":
            # Faithful reduce: the callable sees every record of its keys
            # together (the reference contract, README.md:41-42), one Arrow
            # frame per KEY GROUP via applyInPandas. The unit is a key group
            # rather than a whole hash partition: strictly finer co-location,
            # and a skewed partition can no longer OOM one reducer buffering
            # pd.concat of the entire partition.
            def _one_arg(fn: PartitionReduceFn):
                # applyInPandas dispatches on arity: a 2-parameter function
                # would be called as (key, pdf), so wrap to exactly one arg.
                def run(pdf):
                    return fn(pdf)

                return run

            for fn in spec.reduce_fns:
                out_schema = spec.reduce_schema or df.schema
                df = df.groupBy(key).applyInPandas(_one_arg(fn), schema=out_schema)
        else:
            raise ValueError(f"unknown reduce_mode: {spec.reduce_mode}")

    if spec.dest_path:
        out = df
        if spec.r_num:
            out = (
                df.repartition(spec.r_num, key)
                if spec.partition_key is not None
                else df.repartition(spec.r_num)
            )
        out.write.format(spec.dest_format).mode("overwrite").save(spec.dest_path)
    return df


# ---------------------------------------------------------------------------
# Binary-compatibility mode: text lines + external commands (RDD.pipe)
# ---------------------------------------------------------------------------

LineFn = Callable[[str], Iterable[str]]


def _pipe_command(step: str | list) -> str:
    """Normalize an external-command step for ``RDD.pipe``.

    PySpark's ``pipe`` shlex-splits the command and fork/execs it directly
    (no shell) — exactly the reference's ProcessBuilder contract
    (``MapProcessor.java:69-79``). Commands containing shell metacharacters
    are wrapped in ``sh -c`` so pipelines/redirections behave as written
    instead of failing silently.
    """
    import shlex

    if isinstance(step, list):
        step = shlex.join(step)
    if any(c in step for c in "|;&><$`"):
        return f"/bin/sh -c {shlex.quote(step)}"
    return step


def _apply_line_step(rdd, step):
    """One map step: external command (str/list -> RDD.pipe, the reference's
    fork/exec contract) or a Python per-line callable (1 -> N lines).
    ``checkCode=True``: a failing binary fails the task (and Spark's retry
    machinery takes over), instead of yielding silently-empty output."""
    if isinstance(step, (str, list)):
        return rdd.pipe(_pipe_command(step), checkCode=True)
    return rdd.flatMap(step)


def _apply_partition_step(rdd, step):
    """One reduce step over a whole co-located partition."""
    if isinstance(step, (str, list)):
        return rdd.pipe(_pipe_command(step), checkCode=True)

    def run(lines: Iterator[str]) -> Iterator[str]:
        return step(lines)

    return rdd.mapPartitions(run)


def _key_lines(lines: Iterable[str], key_of: Callable[[str], str]) -> Iterator[tuple[str, str]]:
    """The keying step of :func:`pipe_batch`'s partition phase: ``(key,
    line)`` pairs for ``partitionBy(r_num, partitionFunc=hash)``.

    ``hash`` of a ``str`` is seeded per process, so it co-locates keys
    across workers only when every worker runs with the same
    ``PYTHONHASHSEED`` (SparkContext sets one for its workers). Raises the
    error ``portable_hash`` raises without it, checked once per partition
    here instead of once per record in the partitioner."""
    if "PYTHONHASHSEED" not in os.environ:
        raise PySparkRuntimeError(errorClass="PYTHON_HASH_SEED_NOT_SET", messageParameters={})
    return ((key_of(line), line) for line in lines)


def pipe_batch(
    spark: SparkSession,
    input_path: str,
    dest_path: str | None,
    map_steps: list,
    reduce_steps: list,
    r_num: int,
    key_of: Callable[[str], str] | None = None,
    split_count: int | None = None,
):
    """Reference-exact pipeline over text lines.

    ``map_steps`` / ``reduce_steps``: shell commands (run via ``RDD.pipe``,
    reading stdin / writing stdout line-wise — the Spark-native analog of the
    reference's ``./bin -i in -o out`` file contract) or Python callables.
    ``key_of`` extracts the partition key from a line (default: first
    whitespace-separated token, the reference's KV convention,
    ``mr-bins/partition/partition.cpp:27-31``).

    Returns the result RDD of lines; writes exactly ``r_num`` text files
    under ``dest_path`` when given (reference R9 sink contract).

    The partition hash is the builtin ``hash`` of the ``str`` key, bucket
    ``hash(key) % r_num``. For a ``str`` that is the value ``partitionBy``'s
    default ``portable_hash`` returns, so the buckets and part files are
    the same; ``portable_hash`` only adds a ``PYTHONHASHSEED`` check per
    record, which :func:`_key_lines` makes once per partition. The seed
    SparkContext gives its workers keeps the buckets the same across task
    retries, which first-wins commit relies on.
    """
    key_of = key_of or (lambda line: line.split(None, 1)[0] if line.strip() else "")
    rdd = spark.sparkContext.textFile(input_path, minPartitions=split_count)
    for step in map_steps:
        rdd = _apply_line_step(rdd, step)
    # The partition phase (reference R4): hash(key) % r_num, co-locating keys.
    rdd = (
        rdd.mapPartitions(lambda lines: _key_lines(lines, key_of))
        .partitionBy(r_num, partitionFunc=hash)
        .values()
    )
    for step in reduce_steps:
        rdd = _apply_partition_step(rdd, step)
    if dest_path:
        rdd.saveAsTextFile(dest_path)
    return rdd


# ---------------------------------------------------------------------------
# The reference's flagship computation, both ways: wordcount
# ---------------------------------------------------------------------------


def wordcount_df(spark: SparkSession, input_path: str, dest_path: str | None = None, r_num: int = 1) -> DataFrame:
    """The reference's e2e test batch (map.cpp tokenize -> partition ->
    reduce.cpp sum; golden contract ``ClientTest.java:136-140``) as a Batch."""
    spec = BatchSpec(
        input_path=input_path,
        dest_path=dest_path,
        input_format="text",
        dest_format="csv",
        map_fns=[
            lambda df: df.select(
                F.explode(F.split(F.trim(F.col("value")), r"\s+")).alias("word")
            ).filter(F.col("word") != "")
        ],
        partition_key="word",
        r_num=r_num,
        reduce_agg=[F.count("*").alias("count")],
    )
    return submit_batch(spark, spec)
