"""Source/sink round-trips (SURVEY.md §2.2 "Sources / sinks"): every
supported format through write_dataset -> spark.read, the exactly-R-files
sink contract, and hive-partitioned writes with partition pruning visible
in the plan."""

from __future__ import annotations

import contextlib
import glob
import io
import os

from pyspark.sql import functions as F

from irio_mapreduce_spark.io import read_table, write_dataset

SF_DIR = "/root/testdata/sf0.01"


def _sample(spark):
    return (
        read_table(spark, SF_DIR, "orders")
        .filter(F.col("o_orderkey") % 101 == 0)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )


def _rows(df):
    return sorted((r.o_orderkey, r.o_orderstatus, round(r.o_totalprice, 2)) for r in df.collect())


def test_parquet_roundtrip(spark, tmp_path):
    df = _sample(spark)
    p = str(tmp_path / "o.parquet")
    write_dataset(df, p)
    assert _rows(spark.read.format("parquet").load(p)) == _rows(df)


def test_csv_roundtrip(spark, tmp_path):
    df = _sample(spark)
    p = str(tmp_path / "o.csv")
    write_dataset(df, p, fmt="csv", header="true")
    back = (
        spark.read.format("csv").schema(df.schema).option("header", "true").load(p)
    )
    assert _rows(back) == _rows(df)


def test_json_roundtrip(spark, tmp_path):
    df = _sample(spark)
    p = str(tmp_path / "o.json")
    write_dataset(df, p, fmt="json")
    back = spark.read.format("json").schema(df.schema).load(p)
    assert _rows(back) == _rows(df)


def test_text_roundtrip(spark, tmp_path):
    lines = _sample(spark).select(
        F.concat_ws("|", "o_orderkey", "o_orderstatus").alias("value")
    )
    p = str(tmp_path / "o.txt")
    write_dataset(lines, p, fmt="text")
    back = spark.read.format("text").load(p)
    assert sorted(r.value for r in back.collect()) == sorted(
        r.value for r in lines.collect()
    )


def test_exactly_r_output_files(spark, tmp_path):
    p = str(tmp_path / "r_files")
    write_dataset(_sample(spark), p, num_files=5)
    assert len(glob.glob(os.path.join(p, "part-*"))) == 5


def test_partitioned_write_prunes(spark, tmp_path):
    """Hive-partitioned layout + a partition-key filter must prune at plan
    time (PartitionFilters), not scan-and-discard."""
    p = str(tmp_path / "by_status")
    write_dataset(_sample(spark), p, partition_by=["o_orderstatus"])
    assert os.path.isdir(os.path.join(p, "o_orderstatus=F"))
    back = spark.read.format("parquet").load(p).filter(F.col("o_orderstatus") == "F")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        back.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    assert "o_orderstatus" in [
        l for l in plan.splitlines() if "PartitionFilters" in l
    ][0]


def test_dirtext_python_datasource_roundtrip(spark, tmp_path):
    """Pure-Python DataSource (reference storage model: dir = dataset, one
    task per file): write through the tmp+driver-commit writer, read back
    with one partition per file, values preserved."""
    from pyspark.sql import functions as F

    from irio_mapreduce_spark import pysource

    pysource.register(spark)
    d = str(tmp_path / "dirtext_ds")
    lines = [(f"line number {i}",) for i in range(50)]
    df = spark.createDataFrame(lines, ["value"]).repartition(4)
    df.write.format("dirtext").option("path", d).mode("append").save()

    import os

    files = [f for f in os.listdir(d) if not f.startswith(("_tmp_", "."))]
    assert len(files) == 4 and all(f.startswith("part-") for f in files)
    assert not [f for f in os.listdir(d) if f.startswith("_tmp_")]  # committed

    back = spark.read.format("dirtext").option("path", d).load()
    assert back.rdd.getNumPartitions() == 4  # one task per file (R1 split)
    assert {r.value for r in back.collect()} == {v for (v,) in lines}
    # line_no is per-file position; path identifies the file
    assert back.filter(F.col("line_no") < 0).count() == 0


def test_dirtail_streaming_source_checkpoint_resume(spark, tmp_path):
    """Pure-Python STREAMING source: offsets (the consumed-file list) live
    in the checkpoint, so a restarted query picks up exactly the files
    added since — no re-reads, no gaps."""
    import os

    from irio_mapreduce_spark import pysource

    from irio_mapreduce_spark.streaming import write_stream_parquet_exactly_once

    pysource.register(spark)
    d, ck = str(tmp_path / "tail"), str(tmp_path / "ck")
    out = str(tmp_path / "out")
    os.makedirs(d)
    with open(os.path.join(d, "f1.txt"), "w") as fh:
        fh.write("a\nb")

    def drain():
        # memory sink cannot recover from a checkpoint; the idempotent
        # foreachBatch parquet sink is the recovery-capable pairing
        write_stream_parquet_exactly_once(
            spark.readStream.format("dirtail").option("path", d).load(),
            out, ck,
        )

    drain()
    assert {r.value for r in spark.read.parquet(out).collect()} == {"a", "b"}

    with open(os.path.join(d, "f2.txt"), "w") as fh:
        fh.write("c")
    drain()  # resume from checkpoint: only f2 consumed, nothing re-read
    vals = [r.value for r in spark.read.parquet(out).collect()]
    assert sorted(vals) == ["a", "b", "c"]  # exactly-once across restarts


def test_dirtailp_partitioned_stream_checkpoint_resume(spark, tmp_path):
    """The PARTITIONED streaming reader's offset contract: consumed-file
    lists live in the checkpoint and ``partitions(start, end)`` is a pure
    function of the two offsets, so a restarted query plans executor-read
    partitions for exactly the files added since — no re-reads, no gaps.
    Same scenario as the Simple-reader test above, through the
    executor-side read path."""
    import os

    from irio_mapreduce_spark import pysource
    from irio_mapreduce_spark.streaming import write_stream_parquet_exactly_once

    pysource.register(spark)
    d, ck = str(tmp_path / "tailp"), str(tmp_path / "ckp")
    out = str(tmp_path / "outp")
    os.makedirs(d)
    with open(os.path.join(d, "f1.txt"), "w") as fh:
        fh.write("a\nb")

    def drain():
        write_stream_parquet_exactly_once(
            spark.readStream.format("dirtailp").option("path", d).load(),
            out, ck,
        )

    drain()
    assert {r.value for r in spark.read.parquet(out).collect()} == {"a", "b"}

    with open(os.path.join(d, "f2.txt"), "w") as fh:
        fh.write("c")
    with open(os.path.join(d, "f3.txt"), "w") as fh:
        fh.write("dd")
    drain()  # resume: exactly f2+f3 consumed, one partition each
    vals = [r.value for r in spark.read.parquet(out).collect()]
    assert sorted(vals) == ["a", "b", "c", "dd"]


def test_dirtext_append_twice_does_not_clobber(spark, tmp_path):
    """ADVICE fix: a second mode("append") into a non-empty dir must start
    part numbering after the existing max index, never os.rename over a
    previously committed part file (silent data loss)."""
    from irio_mapreduce_spark import pysource

    pysource.register(spark)
    d = str(tmp_path / "dirtext_append")
    first = spark.createDataFrame([(f"one-{i}",) for i in range(8)], ["value"])
    second = spark.createDataFrame([(f"two-{i}",) for i in range(8)], ["value"])
    first.repartition(2).write.format("dirtext").option("path", d).mode(
        "append"
    ).save()
    second.repartition(3).write.format("dirtext").option("path", d).mode(
        "append"
    ).save()

    import os

    parts = sorted(f for f in os.listdir(d) if f.startswith("part-"))
    assert len(parts) == 5, parts  # 2 + 3, nothing clobbered
    back = spark.read.format("dirtext").option("path", d).load()
    got = sorted(r.value for r in back.collect())
    assert got == sorted([f"one-{i}" for i in range(8)] + [f"two-{i}" for i in range(8)])

    # overwrite still resets numbering from zero
    second.repartition(1).write.format("dirtext").option("path", d).mode(
        "overwrite"
    ).save()
    parts = sorted(f for f in os.listdir(d) if f.startswith("part-"))
    assert parts == ["part-00000.txt"]


def test_dirtext_stream_commit_before_any_write(tmp_path):
    """ADVICE fix (r6): a zero-partition/empty micro-batch reaches
    commit() before any task ran write() — the call that creates the
    directory — so commit must create it itself instead of crashing the
    stream with FileNotFoundError."""
    from irio_mapreduce_spark.pysource import DirTextStreamWriter

    d = str(tmp_path / "never_written")
    w = DirTextStreamWriter({"path": d})
    w.commit([], batchId=0)  # must not raise; dir now exists, empty
    import os

    assert os.path.isdir(d) and os.listdir(d) == []


def test_pysource_register_memoized_per_session(spark):
    """r6 VERDICT "What's wrong #1": re-registering per catalog-entry call
    re-pickles the whole by-value module payload. register() must be a
    no-op after the first call on the same session."""
    from unittest import mock

    from irio_mapreduce_spark import pysource

    pysource.register(spark)
    with mock.patch.object(
        spark.dataSource, "register", side_effect=AssertionError("re-registered")
    ):
        pysource.register(spark)  # memoized: must not touch the registry


def test_dirtext_rejects_multi_column_writes(spark, tmp_path):
    """ADVICE fix: the format is line-oriented by contract (one column ->
    one line); a wide frame must be rejected at planning time instead of
    silently serializing only the last column."""
    import pytest

    from irio_mapreduce_spark import pysource

    pysource.register(spark)
    d = str(tmp_path / "dirtext_wide")
    wide = spark.createDataFrame([(1, "x")], ["a", "b"])
    with pytest.raises(Exception, match="exactly one column"):
        wide.write.format("dirtext").option("path", d).mode("append").save()


def test_range_partitioned_sorted_write_narrows_rowgroup_stats(spark, tmp_path):
    """The 100 TB data-clustering move: repartitionByRange + sortWithin-
    Partitions on the filter column writes parquet whose row-group min/max
    ranges are NARROW and DISJOINT, so a date-bounded scan can skip most
    row groups on footer stats alone; an unsorted write leaves every row
    group spanning (almost) the full domain — no skipping possible.
    Verified on the actual parquet footers via pyarrow."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from irio_mapreduce_spark.io import read_table
    from tests.conftest import SF_DIR

    orders = read_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_totalprice", F.col("o_orderdate").cast("long").alias("od")
    )
    lo, hi = orders.agg(F.min("od"), F.max("od")).head()
    domain = hi - lo

    def spans(path):
        out = []
        for f in glob.glob(path + "/*.parquet"):
            md = pq.ParquetFile(f).metadata
            idx = next(
                i for i in range(md.num_columns)
                if md.row_group(0).column(i).path_in_schema == "od"
            )
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                out.append((st.min, st.max))
        return out

    clustered = str(tmp_path / "clustered")
    (
        orders.repartitionByRange(8, "od")
        .sortWithinPartitions("od")
        .write.mode("overwrite")
        .parquet(clustered)
    )
    unsorted = str(tmp_path / "unsorted")
    orders.repartition(8).write.mode("overwrite").parquet(unsorted)

    c_spans = spans(clustered)
    u_spans = spans(unsorted)
    assert c_spans and u_spans
    # clustered: every row group covers a small slice of the domain
    assert max((mx - mn) for mn, mx in c_spans) <= domain / 4
    # unsorted: row groups span (nearly) everything — no stats-skipping
    assert min((mx - mn) for mn, mx in u_spans) >= domain * 0.8
    # and a bounded predicate could skip most clustered row groups
    probe_lo, probe_hi = lo, lo + domain // 8
    overlapping = [1 for mn, mx in c_spans if not (mx < probe_lo or mn > probe_hi)]
    assert len(overlapping) <= max(2, len(c_spans) // 4)


def test_zorder_write_narrows_rowgroup_stats_on_both_dims(spark, tmp_path):
    """Z-ORDER clustering: sorting by the interleaved Morton key writes
    row groups that are small hyper-rectangles of the
    (custkey, orderdate) domain — BOTH columns' row-group spans narrow,
    so bounded predicates on EITHER column skip most row groups on
    footer stats. The single-column control narrows only its own sort
    column and leaves the other full-domain (the documented limitation
    Z-order exists to fix)."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from irio_mapreduce_spark.io import read_table
    from irio_mapreduce_spark.operators.layout import quantize, zorder_key
    from tests.conftest import SF_DIR

    orders = read_table(spark, SF_DIR, "orders").select(
        "o_custkey", F.col("o_orderdate").cast("long").alias("od")
    )
    (clo, chi, dlo, dhi) = orders.agg(
        F.min("o_custkey"), F.max("o_custkey"), F.min("od"), F.max("od")
    ).head()

    def spans(path, col):
        out = []
        for f in glob.glob(path + "/*.parquet"):
            md = pq.ParquetFile(f).metadata
            idx = next(
                i for i in range(md.num_columns)
                if md.row_group(0).column(i).path_in_schema == col
            )
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                out.append((st.min, st.max))
        return out

    key = zorder_key(
        [
            quantize(F.col("o_custkey"), int(clo), int(chi), 8),
            quantize(F.col("od"), int(dlo), int(dhi), 8),
        ],
        bits=8,
    )
    zpath = str(tmp_path / "zordered")
    (
        orders.withColumn("_z", key)
        .repartitionByRange(16, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(zpath)
    )
    cpath = str(tmp_path / "custkey_sorted")
    (
        orders.repartitionByRange(16, "o_custkey")
        .sortWithinPartitions("o_custkey")
        .write.mode("overwrite")
        .parquet(cpath)
    )

    cdom, ddom = chi - clo, dhi - dlo

    def median_span(ss, dom):
        w = sorted((mx - mn) / dom for mn, mx in ss)
        return w[len(w) // 2]

    # Z-order: the TYPICAL row group covers a fraction of BOTH domains
    # (16 Z-partitions ~ a 4x4 grid of quadrants; the odd partition
    # straddling a Z-curve jump can span more, hence median not max)
    assert median_span(spans(zpath, "o_custkey"), cdom) <= 0.5
    assert median_span(spans(zpath, "od"), ddom) <= 0.5
    # control: single-column sort narrows its own column far tighter...
    assert median_span(spans(cpath, "o_custkey"), cdom) <= 0.15
    # ...but leaves the OTHER dimension full-domain in every row group
    assert median_span(spans(cpath, "od"), ddom) >= 0.8


def test_parquet_codec_option_reaches_footers(spark):
    """source_parquet_codecs' value check alone would pass even if the
    compression option were silently ignored; the footers must actually
    carry each requested codec. The files are the ones the built frame
    reads."""
    from urllib.parse import urlparse

    import pyarrow.parquet as pq

    from irio_mapreduce_spark.queries.sources_q import source_parquet_codecs

    df = source_parquet_codecs(spark, "/root/testdata/sf0.01")
    df.collect()
    read = [urlparse(f).path for f in df.inputFiles()]
    for codec, expect in (("gzip", "GZIP"), ("snappy", "SNAPPY"), ("zstd", "ZSTD")):
        files = [f for f in read if f"customer_codec_{codec}_" in f]
        assert files, codec
        meta = pq.ParquetFile(files[0]).metadata
        seen = {
            meta.row_group(g).column(i).compression
            for g in range(meta.num_row_groups)
            for i in range(meta.num_columns)
        }
        assert seen == {expect} or expect in seen, (codec, seen)


def test_scratch_entry_first_build_survives_a_rebuild(spark):
    """Every build of a scratch-writing entry writes its own directory, so
    building source_parquet_codecs again leaves the first build's lazy
    frame readable: a shared directory rewritten by the second build made
    the first frame's collect fail with FILE_NOT_EXIST."""
    from irio_mapreduce_spark.queries.sources_q import source_parquet_codecs

    sf_dir = "/root/testdata/sf0.01"
    first = source_parquet_codecs(spark, sf_dir)
    second = source_parquet_codecs(spark, sf_dir)
    assert set(first.inputFiles()).isdisjoint(second.inputFiles())
    assert sorted(first.collect()) == sorted(second.collect())


def test_parquet_bloom_option_emits_filter_bytes(spark, tmp_path):
    """source_parquet_bloom_stats' value check alone would pass even if
    the bloom option were silently ignored. This container's pyarrow
    predates bloom-offset metadata accessors, so the observable is the
    byte budget: the SAME single-task write with and without the option
    must differ by the bloom payload (split-block filter for 20k ndv is
    tens of KB), while row counts and values stay identical."""
    import glob
    import os

    from irio_mapreduce_spark.io import read_table

    c = read_table(spark, "/root/testdata/sf0.01", "customer").select(
        "c_custkey", "c_acctbal"
    ).coalesce(1)
    plain, bloom = str(tmp_path / "plain"), str(tmp_path / "bloom")
    c.write.mode("overwrite").parquet(plain)
    (
        c.write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#c_custkey", "true")
        .option("parquet.bloom.filter.expected.ndv#c_custkey", "20000")
        .parquet(bloom)
    )

    def size(d):
        files = glob.glob(os.path.join(d, "*.parquet"))
        assert len(files) == 1, files
        return os.path.getsize(files[0])

    assert size(bloom) > size(plain) + 4096, (size(bloom), size(plain))
    a = spark.read.parquet(plain).orderBy("c_custkey").collect()
    b = spark.read.parquet(bloom).orderBy("c_custkey").collect()
    assert a == b


def test_hilbert_index_bijective_and_unit_adjacent(spark):
    """operators.layout.hilbert_index on the FULL 64x64 grid: a bijection
    onto [0, 4096) whose consecutive keys are always unit neighbors (the
    locality invariant Z-order lacks), and exactly the classic xy2d
    reference construction."""
    from pyspark.sql import functions as F

    from irio_mapreduce_spark.operators.layout import hilbert_index

    n = 64
    grid = spark.range(n * n).select(
        (F.col("id") % n).alias("x"), (F.col("id") / n).cast("long").alias("y")
    )
    rows = hilbert_index(grid, "x", "y", 6, out="d").collect()
    assert len(rows) == n * n
    pos = {r["d"]: (r["x"], r["y"]) for r in rows}
    assert len(pos) == n * n, "hilbert index is not a bijection"

    def xy2d(size, x, y):
        d, s = 0, size // 2
        while s > 0:
            rx = 1 if (x & s) > 0 else 0
            ry = 1 if (y & s) > 0 else 0
            d += s * s * ((3 * rx) ^ ry)
            if ry == 0:
                if rx == 1:
                    x, y = size - 1 - x, size - 1 - y
                x, y = y, x
            s //= 2
        return d

    for r in rows[:256]:
        assert r["d"] == xy2d(n, r["x"], r["y"])
    for d in range(n * n - 1):
        (x1, y1), (x2, y2) = pos[d], pos[d + 1]
        assert abs(x1 - x2) + abs(y1 - y2) == 1, f"non-unit step at d={d}"
