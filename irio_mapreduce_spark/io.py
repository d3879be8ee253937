"""Sources and sinks.

The reference's data model is "directory of consecutively-numbered flat text
files = dataset" (``storage/local/DistrStorage.java:137-189``, SURVEY.md §1.1).
Here a dataset is a path readable by any Spark source (parquet/csv/json/text);
file-level partitioning is Spark's input-split machinery, and the reference's
``r_num`` (exactly-R output files, ``common/common.proto:22``) maps to
``repartition(R)`` before write.

Scale notes (100 TB):
* readers take explicit schemas where known — schema inference is a full
  extra scan at scale.
* ``write_dataset(..., partition_by=...)`` produces hive-partitioned layouts
  so downstream scans get partition pruning.
* parquet is the default interchange format (columnar, predicate pushdown,
  column pruning — all visible in ``.explain`` as PushedFilters/ReadSchema).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# The driver-provided synthetic tables (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimension tables: always broadcast-join these (a few KB..MB even at
# SF100k; nation/region are constant-size in TPC-H-style schemas).
BROADCAST_TABLES = frozenset({"region", "nation"})


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _nanos_timestamp_cols(path: str) -> list[str]:
    """Column names stored as parquet TIMESTAMP(NANOS), which Spark's
    vectorized reader rejects. Footer-only check (no data read)."""
    try:
        import pyarrow.dataset as ds

        schema = ds.dataset(path, format="parquet").schema
    except Exception:
        return []
    return [
        f.name
        for f in schema
        if str(f.type).startswith("timestamp[ns")
    ]


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one synthetic table. Column pruning + filter pushdown are left to
    Catalyst — callers select/filter on the returned frame.

    Tables with nanosecond-precision parquet timestamps (``events.ts``) are
    read via ``spark.sql.legacy.parquet.nanosAsLong`` and converted to
    microsecond timestamps (matching DuckDB, which also reads parquet ns
    timestamps at µs precision).

    Timestamp columns that arrive as TIMESTAMP_NTZ (µs parquet with
    isAdjustedToUTC=false — how the synthetic data is written as of round 3)
    are normalized to TIMESTAMP (LTZ): Structured Streaming's
    ``withWatermark`` hard-requires LTZ event time, and the cast is
    wall-clock-preserving (interpret in session tz, render in session tz),
    so every date/window/format expression — and every DuckDB oracle, which
    treats naive timestamps as wall-clock too — is unaffected.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import TimestampNTZType

    def _ltz(df: DataFrame) -> DataFrame:
        for f in df.schema.fields:
            if isinstance(f.dataType, TimestampNTZType):
                df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
        return df

    path = table_path(sf_dir, name)
    ns_cols = _nanos_timestamp_cols(path)
    if not ns_cols:
        return _ltz(spark.read.parquet(path))
    # Session-wide side effect, also set at session build (session.py): the
    # conf must hold at *execution* time of this lazy plan, so it cannot be
    # save/restored here. Documented contract: this engine always reads
    # parquet ns-timestamps as long + explicit µs conversion.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    for c in ns_cols:
        # Integer division, NOT (col/1000).cast: epoch-ns (~1.7e18) exceeds
        # 2^53, so double division rounds ~12% of values to the wrong µs,
        # diverging from DuckDB's integer truncation.
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def spread_scan(
    spark: SparkSession,
    df: DataFrame,
    *input_paths: str,
    bytes_per_task: int = 128 << 20,
) -> DataFrame:
    """Round-robin repartition a scan-rooted frame to the cluster's default
    parallelism WHEN (and only when) its file inputs are too small to split
    into ~one scan task per core — the guide §2.5 "unsplittable input:
    repartition immediately after the read" fix, made scale-adaptive.

    Rationale (optimization round 12, measured): the driver's parquet
    inputs are single-row-group files (lineitem sf0.1 = 10.6 MB, one row
    group), so parquet's split machinery caps every scan at ONE task and
    all per-row work upstream of the first exchange runs on one core of
    32. For compute-heavy operators (20-universe md5 permutation tests,
    shingle explosion, Python codec decode) that serializes the dominant
    stage. A 10 MB round-robin exchange costs milliseconds and buys cores×
    parallelism.

    Scale stance: the condition is derived from input bytes vs.
    ``defaultParallelism × bytes_per_task`` (default = the 128 MB
    ``spark.sql.files.maxPartitionBytes`` default). At production scale the
    inputs exceed cores×128 MB, the condition is false, and this is a
    no-op — no constant here is tuned to local mode. Results are unchanged
    by construction: every catalog operator is partition-order independent
    (enforced by the odd-partition-count protocol sweeps, tools/
    drive_driver_protocol.py DRIVE_PARTS).
    """
    try:
        total = sum(os.path.getsize(p) for p in input_paths)
    except OSError:
        return df
    par = spark.sparkContext.defaultParallelism
    if total >= par * bytes_per_task:
        return df
    return df.repartition(par)


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    """Read several tables at once: ``t = load_tables(spark, d, "orders", ...)``."""
    return {n: read_table(spark, sf_dir, n) for n in (names or TABLES)}


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register the synthetic tables as temp views for ``spark.sql`` use."""
    for n in names or TABLES:
        read_table(spark, sf_dir, n).createOrReplaceTempView(n)


# ---------------------------------------------------------------------------
# Generic readers/writers (SURVEY.md §2.2 "Sources / sinks")
# ---------------------------------------------------------------------------


def read_any(spark: SparkSession, path: str, fmt: str = "parquet", schema=None, **options) -> DataFrame:
    """Scan ``path`` as parquet/csv/json/text (reference R1,
    ``DistrStorage.java:137-155``)."""
    reader = spark.read.format(fmt).options(**options)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


def write_dataset(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    num_files: int | None = None,
    partition_by: list[str] | None = None,
    **options,
) -> None:
    """Sink (reference R9, ``TaskManagerImpl.java:271-272``).

    ``num_files`` reproduces the reference's exactly-``r_num``-output-files
    contract (``common/common.proto:22``). ``partition_by`` is the scale path:
    hive-partitioned output for downstream partition pruning.
    """
    if num_files is not None:
        df = df.repartition(num_files)
    writer = df.write.format(fmt).mode(mode).options(**options)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)
