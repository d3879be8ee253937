"""Streaming surface tests: the batch-equivalence protocol.

Every transform in irio_mapreduce_spark.streaming is batch/stream-
polymorphic; each test runs the SAME function over (a) the static events
frame and (b) a deterministic file-stream replay of it, and asserts equal
results. Watermark semantics (late-data drop, bounded dedup state) get
dedicated scenario tests with time-ordered replays.
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from irio_mapreduce_spark.streaming import (
    dedup_events,
    drain,
    read_events_stream,
    replay_chunks,
    replay_time_ordered,
    session_rollup,
    sliding_value_rollup,
    stateful_user_totals,
    stream_static_enrich,
    tumbling_value_rollup,
)

from irio_mapreduce_spark.queries.streaming_q import _ROCKSDB
from irio_mapreduce_spark.session import scoped_conf

SF_DIR = "/root/testdata/sf0.001"


def rows_set(df, cols):
    return {tuple(r[c] for c in cols) for r in df.collect()}


@pytest.fixture(scope="module")
def unordered_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("ev_unordered"))
    return replay_chunks(spark, SF_DIR, d, n_chunks=4)


SENTINEL_USER = 7 * 10**8  # divisible by 7 so the session test's user
# filter keeps it (the watermark must SEE the sentinel to advance)


@pytest.fixture(scope="module")
def ordered_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("ev_ordered"))
    return replay_time_ordered(spark, SF_DIR, d, n_chunks=4, sentinel_user=SENTINEL_USER)


def test_tumbling_window_batch_equivalence(spark, unordered_dir):
    static = spark.read.parquet(unordered_dir)
    stream = read_events_stream(spark, unordered_dir)
    drained = drain(tumbling_value_rollup(stream), output_mode="complete").table
    got = rows_set(drained, ["win_start", "event_type", "n", "total_value"])
    want = rows_set(
        tumbling_value_rollup(static), ["win_start", "event_type", "n", "total_value"]
    )
    assert got == want and got


def test_sliding_window_batch_equivalence(spark, unordered_dir):
    static = spark.read.parquet(unordered_dir)
    stream = read_events_stream(spark, unordered_dir)
    drained = drain(sliding_value_rollup(stream), output_mode="complete").table
    got = rows_set(drained, ["win_start", "n", "total_value"])
    want = rows_set(sliding_value_rollup(static), ["win_start", "n", "total_value"])
    assert got == want and got


def test_session_window_batch_equivalence(spark, ordered_dir):
    """Append mode + watermark: sessions emit when the watermark passes
    their end; the far-future sentinel event closes every real session.
    The time-ordered replay means nothing real is ever late."""
    static = spark.read.parquet(ordered_dir).filter(F.col("event_id") >= 0)
    stream = read_events_stream(spark, ordered_dir)
    sessions = session_rollup(
        stream.filter(F.col("user_id") % 7 == 0), watermark="1 minute"
    )
    drained = drain(sessions).table
    got = rows_set(
        drained.filter(F.col("user_id") != SENTINEL_USER),
        ["user_id", "session_start", "n_events", "total_value"],
    )
    want = rows_set(
        session_rollup(static.filter(F.col("user_id") % 7 == 0)),
        ["user_id", "session_start", "n_events", "total_value"],
    )
    assert got == want and got


def test_stateful_dedup_batch_equivalence(spark, unordered_dir):
    static = spark.read.parquet(unordered_dir)
    stream = read_events_stream(spark, unordered_dir)
    drained = drain(dedup_events(stream, ["user_id", "event_type"])).table
    assert drained.count() == static.select("user_id", "event_type").distinct().count()


def test_stream_static_join_batch_equivalence(spark, unordered_dir):
    static = spark.read.parquet(unordered_dir)
    dim = spark.createDataFrame(
        [("click", 1.0), ("view", 0.1), ("purchase", 10.0)],
        ["event_type", "weight"],
    )
    stream = read_events_stream(spark, unordered_dir)
    enriched = stream_static_enrich(stream, dim, "event_type").groupBy(
        "event_type"
    ).agg(F.round(F.sum(F.col("value") * F.col("weight")), 2).alias("weighted"))
    drained = drain(enriched, output_mode="complete").table
    got = rows_set(drained, ["event_type", "weighted"])
    want = rows_set(
        stream_static_enrich(static, dim, "event_type")
        .groupBy("event_type")
        .agg(F.round(F.sum(F.col("value") * F.col("weight")), 2).alias("weighted")),
        ["event_type", "weighted"],
    )
    assert got == want and len(got) == 3


def test_custom_stateful_operator_running_totals(spark, unordered_dir):
    """applyInPandasWithState: the per-user state accumulates across
    micro-batches; the FINAL emission per user (the one with the highest
    event count — counts grow monotonically) must equal the batch
    aggregate over the whole replay."""
    static = spark.read.parquet(unordered_dir)
    stream = read_events_stream(spark, unordered_dir)
    drained = drain(stateful_user_totals(stream), output_mode="update").table
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("n").desc())
    finals = (
        drained
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    got = rows_set(finals, ["user_id", "total", "n"])
    want = rows_set(
        static.groupBy("user_id").agg(
            F.round(F.sum("value"), 2).alias("total"), F.count("*").alias("n")
        ),
        ["user_id", "total", "n"],
    )
    assert got == want and got


def test_watermark_drops_late_data(spark, tmp_path):
    """Late-data semantics, deterministically. A window's state is evicted
    once the watermark passes its END (not merely the event's timestamp),
    and the watermark a micro-batch applies trails the event-time maximum
    by one batch — so the scenario needs four micro-batches: day-1 events;
    day-3 events; a day-3 follow-up (by which point the applied watermark
    has jumped past the day-1 window end, closing it); then a day-1
    straggler — whose window is closed, so it is dropped. Batch (no
    watermark) counts it."""
    d = str(tmp_path / "late_events")
    day1 = datetime.datetime(2024, 1, 1, 12, 0, 0)
    day3 = datetime.datetime(2024, 1, 3, 12, 0, 0)
    late = datetime.datetime(2024, 1, 1, 10, 0, 0)
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"
    spark.createDataFrame(
        [(i, day1 + datetime.timedelta(minutes=i), 1, "click", 1.0) for i in range(10)],
        schema,
    ).coalesce(1).write.parquet(d)
    spark.createDataFrame(
        [(100 + i, day3 + datetime.timedelta(minutes=i), 1, "click", 1.0) for i in range(5)],
        schema,
    ).coalesce(1).write.mode("append").parquet(d)
    spark.createDataFrame(
        [(998, day3 + datetime.timedelta(hours=1), 1, "click", 1.0)],
        schema,
    ).coalesce(1).write.mode("append").parquet(d)
    spark.createDataFrame(
        [(999, late, 1, "click", 1.0)],
        schema,
    ).coalesce(1).write.mode("append").parquet(d)

    stream = read_events_stream(spark, d)
    drained = drain(tumbling_value_rollup(stream, watermark="1 hour")).table
    emitted = {(r.win_start, r.n) for r in drained.collect()}
    day1_win = datetime.datetime(2024, 1, 1, 0, 0, 0)
    # Streaming: day-1 window closed with 10 events; the late 11th dropped.
    assert (day1_win, 10) in emitted
    # Batch sees all 11.
    batch = tumbling_value_rollup(spark.read.parquet(d))
    assert rows_set(batch.filter(F.col("win_start") == day1_win), ["n"]) == {(11,)}


def test_stream_stream_join_batch_equivalence(spark, ordered_dir):
    """Watermarked stream-stream inner join over a time-ordered replay
    equals the batch interval join: with zero disorder, a left row can
    only be evicted after the watermark passes l.ts + interval, by which
    point every in-window right row has arrived (r.ts <= l.ts + interval
    < watermark implies it was seen)."""
    from irio_mapreduce_spark.streaming import stream_stream_interval_join

    static = spark.read.parquet(ordered_dir)

    def split(df):
        return (
            df.filter(F.col("event_type") == "click"),
            df.filter(F.col("event_type") == "purchase"),
        )

    sc, sb = split(read_events_stream(spark, ordered_dir))
    joined = stream_stream_interval_join(
        sc, sb, "user_id", "6 hours",
        left_watermark="1 hour", right_watermark="1 hour",
    ).select(
        F.col("l.event_id").alias("click_id"),
        F.col("r.event_id").alias("buy_id"),
    )
    drained = drain(joined).table
    got = rows_set(drained, ["click_id", "buy_id"])

    bc, bb = split(static)
    want = rows_set(
        stream_stream_interval_join(bc, bb, "user_id", "6 hours").select(
            F.col("l.event_id").alias("click_id"),
            F.col("r.event_id").alias("buy_id"),
        ),
        ["click_id", "buy_id"],
    )
    assert got == want and got


def test_foreach_batch_sink_exactly_once(spark, unordered_dir, tmp_path):
    """foreachBatch parquet sink: (a) drained output equals the source,
    (b) restarting the query on the same checkpoint writes nothing new,
    (c) a simulated batch RETRY (re-running a batch id) overwrites its own
    partition instead of duplicating rows."""
    from irio_mapreduce_spark.streaming import write_stream_parquet_exactly_once

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    static = spark.read.parquet(unordered_dir)

    def run():
        write_stream_parquet_exactly_once(
            read_events_stream(spark, unordered_dir).select(
                "event_id", "user_id", "value"
            ),
            out,
            ckpt,
        )

    run()
    sunk = spark.read.parquet(out)
    assert rows_set(sunk, ["event_id"]) == rows_set(static, ["event_id"])
    n_batches = sunk.select("_batch_id").distinct().count()
    assert n_batches > 1  # multiple micro-batches actually exercised

    run()  # restart on same checkpoint: no new data -> no new writes
    assert spark.read.parquet(out).count() == static.count()

    # simulated retry of batch 0: same rows land in the same partition dir
    # (materialize first — writing over the path a lazy plan reads from
    # would delete its own input mid-scan)
    first = spark.createDataFrame(
        spark.read.parquet(out + "/_batch_id=0").toPandas()
    )
    first.write.mode("overwrite").parquet(out + "/_batch_id=0")
    assert spark.read.parquet(out).count() == static.count()


def test_stream_stream_left_outer_join_batch_equivalence(spark, tmp_path_factory):
    """Left-outer stream-stream join: unmatched clicks must emit with a
    null purchase — but only once the watermark PROVES no match can still
    arrive. Far-future sentinel events on BOTH inputs advance the global
    watermark past every real row (the join watermark is the min across
    inputs, so one-sided sentinels would stall it), flushing all outer
    state; the drained result must then equal the batch left-outer join."""
    from irio_mapreduce_spark.streaming import stream_stream_interval_join

    d = str(tmp_path_factory.mktemp("ev_ordered_ss"))
    replay_time_ordered(spark, SF_DIR, d, n_chunks=4)
    base = spark.read.parquet(d)
    far = base.agg((F.max("ts") + F.expr("INTERVAL 30 DAYS")).alias("ts"))
    sentinels = far.selectExpr(
        "stack(2, -1L, 'click', -2L, 'purchase') AS (event_id, event_type)",
        "ts",
    ).select(
        "event_id",
        "ts",
        F.lit(SENTINEL_USER).cast("long").alias("user_id"),
        "event_type",
        F.lit(0.0).alias("value"),
        F.lit(None).cast("string").alias("props"),
    )
    sentinels.coalesce(1).write.mode("append").parquet(d)

    def split(df):
        return (
            df.filter(F.col("event_type") == "click"),
            df.filter(F.col("event_type") == "purchase"),
        )

    out_cols = [
        F.col("l.event_id").alias("click_id"),
        F.col("r.event_id").alias("buy_id"),
    ]
    sc, sb = split(read_events_stream(spark, d))
    drained = drain(
        stream_stream_interval_join(
            sc, sb, "user_id", "6 hours",
            left_watermark="1 hour", right_watermark="1 hour", how="left_outer",
        ).select(*out_cols)
    ).table
    got = rows_set(
        drained.filter(F.col("click_id") >= 0),
        ["click_id", "buy_id"],
    )

    static = spark.read.parquet(d).filter(F.col("user_id") != SENTINEL_USER)
    bc, bb = split(static)
    want = rows_set(
        stream_stream_interval_join(
            bc, bb, "user_id", "6 hours", how="left_outer"
        ).select(*out_cols),
        ["click_id", "buy_id"],
    )
    assert got == want and got
    assert any(b is None for _, b in got)  # outer nulls actually exercised


def test_rocksdb_state_store_provider(spark, unordered_dir, tmp_path):
    """The 100 TB streaming-state story relies on RocksDB-backed state
    (bounded executor memory, spill to local disk, incremental
    checkpointing) rather than the default in-heap HDFS-backed provider.
    Prove the bundled provider actually engages: run the stateful dedup
    with the conf set, assert the drained result is unchanged AND the
    state checkpoint contains RocksDB SST files."""
    import glob
    import os

    ck = str(tmp_path / "ck_rocks")
    with scoped_conf(spark, _ROCKSDB):
        drained = drain(
            dedup_events(
                read_events_stream(spark, unordered_dir),
                ["user_id", "event_type"],
            ),
            checkpoint=ck,
        ).table
    static = spark.read.parquet(unordered_dir)
    assert drained.count() == static.select("user_id", "event_type").distinct().count()
    ssts = glob.glob(os.path.join(ck, "state", "**", "*.sst"), recursive=True)
    assert ssts, "RocksDB provider set but no SST files in state checkpoint"


def test_streaming_curation_pipeline(spark, tmp_path):
    """Curation as a stream: the SAME dedup + quality logic that runs the
    batch backfill runs over a live document ingest — stateful content
    dedup (sha256 fingerprint) across micro-batches, stateless quality
    filter, exactly-once parquet sink. Kept fingerprints and row count
    must equal the batch pipeline's (kept doc_ids may differ: streaming
    keeps first-ARRIVED per content, batch keeps first-by-id — same
    content either way)."""
    from irio_mapreduce_spark.llm.text import quality_features
    from irio_mapreduce_spark.streaming import write_stream_parquet_exactly_once

    d = replay_chunks(
        spark, SF_DIR, str(tmp_path / "docs"), n_chunks=4,
        table="documents", id_col="doc_id",
    )

    def curate(df):
        return (
            quality_features(df.withColumn("fp", F.sha2(F.col("text"), 256)))
            .filter(
                (F.col("n_tokens") >= 20) & (F.col("n_tokens") <= 200)
                & (F.col("ttr") >= 0.15)
            )
            .select("fp", "n_tokens")
        )

    stream = read_events_stream(spark, d).withColumn(
        "fp", F.sha2(F.col("text"), 256)
    ).dropDuplicates(["fp"]).drop("fp")
    out, ckpt = str(tmp_path / "curated"), str(tmp_path / "ckpt")
    write_stream_parquet_exactly_once(curate(stream), out, ckpt)
    got = spark.read.parquet(out)

    static = spark.read.parquet(d)
    want = curate(static.dropDuplicates(["text"]))
    assert rows_set(got, ["fp", "n_tokens"]) == rows_set(want, ["fp", "n_tokens"])
    assert got.count() == want.count() > 0


def test_stateful_change_intervals_batch_equivalence(spark, ordered_dir):
    """Streaming SCD2 (applyInPandasWithState) over a time-ordered replay
    must emit exactly the CLOSED change intervals the batch lag/lead
    reconstruction produces — interval boundaries crossing micro-batch
    borders ride the per-user state."""
    from pyspark.sql import Window

    from irio_mapreduce_spark.streaming import stateful_change_intervals

    static = spark.read.parquet(ordered_dir).filter(
        F.col("user_id") != SENTINEL_USER
    )
    stream = read_events_stream(spark, ordered_dir).filter(
        F.col("user_id") != SENTINEL_USER
    )
    drained = drain(stateful_change_intervals(stream)).table
    got = rows_set(
        drained,
        ["user_id", "event_type", "valid_from_us", "valid_to_us", "change_seq"],
    )

    w_seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        static.select(
            "user_id",
            "event_type",
            "ts",
            F.lag("event_type").over(w_seq).alias("prev_type"),
        )
        .filter(
            F.col("prev_type").isNull()
            | (F.col("prev_type") != F.col("event_type"))
        )
    )
    w_ch = Window.partitionBy("user_id").orderBy("ts")
    closed = (
        changes.select(
            "user_id",
            "event_type",
            F.unix_micros("ts").alias("valid_from_us"),
            F.unix_micros(F.lead("ts").over(w_ch)).alias("valid_to_us"),
            F.row_number().over(w_ch).cast("long").alias("change_seq"),
        )
        .filter(F.col("valid_to_us").isNotNull())
    )
    want = rows_set(
        closed, ["user_id", "event_type", "valid_from_us", "valid_to_us", "change_seq"]
    )
    assert got == want and got


def test_cdc_upsert_batch_retry_is_idempotent(spark, tmp_path):
    """Re-running a micro-batch merge (failure between version write and
    checkpoint commit) must rewrite its own version from the same inputs
    — the final target is unchanged."""
    import os

    from irio_mapreduce_spark.streaming.ops import cdc_upsert_drain, read_cdc_target
    from tests.conftest import SF_DIR
    from irio_mapreduce_spark.io import read_table
    from irio_mapreduce_spark.streaming import read_events_stream, replay_chunks

    replay = replay_chunks(
        spark, SF_DIR, str(tmp_path / "replay"), n_chunks=3
    )
    tdir = str(tmp_path / "target")
    cdc_upsert_drain(
        read_events_stream(spark, replay), tdir, str(tmp_path / "cp")
    )
    before = {
        (r.user_id, r.event_id)
        for r in read_cdc_target(spark, tdir).collect()
    }
    versions = sorted(
        int(d.split("=")[1]) for d in os.listdir(tdir) if d.startswith("v=")
    )
    # simulate the retry of the LAST batch: re-merge (previous version +
    # the same final chunk) into the same version slot
    last = versions[-1]
    ev = read_table(spark, SF_DIR, "events")
    import pyspark.sql.functions as F
    last_chunk = ev.filter(F.col("event_id") % 3 == last % 3)
    # the drain's merge_batch logic, replayed by hand on the same inputs
    from pyspark.sql import Window
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    prior = spark.read.parquet(os.path.join(tdir, f"v={versions[-2]}"))
    merged = (
        prior.unionByName(
            last_chunk.withColumn("_rn", F.row_number().over(w))
            .filter("_rn = 1")
            .drop("_rn")
        )
        .withColumn("_rn", F.row_number().over(w))
        .filter("_rn = 1")
        .drop("_rn")
    )
    merged.write.mode("overwrite").parquet(os.path.join(tdir, f"v={last}"))
    after = {
        (r.user_id, r.event_id)
        for r in read_cdc_target(spark, tdir).collect()
    }
    assert after == before


def test_cdc_read_skips_torn_uncommitted_version(spark, tmp_path):
    """A hard crash mid-overwrite of v=N leaves a directory WITHOUT the
    _SUCCESS job-commit marker; neither read_cdc_target nor the next
    batch's prior-version lookup may treat it as committed."""
    import os
    import shutil

    from irio_mapreduce_spark.streaming.ops import (
        _committed_versions,
        cdc_upsert_drain,
        read_cdc_target,
    )
    from irio_mapreduce_spark.streaming import read_events_stream, replay_chunks

    from tests.conftest import SF_DIR

    replay = replay_chunks(spark, SF_DIR, str(tmp_path / "replay"), n_chunks=2)
    tdir = str(tmp_path / "target")
    cdc_upsert_drain(read_events_stream(spark, replay), tdir, str(tmp_path / "cp"))
    committed = _committed_versions(tdir)
    assert committed
    want = {
        (r.user_id, r.event_id) for r in read_cdc_target(spark, tdir).collect()
    }

    # fabricate a torn overwrite of a HIGHER version: copy the newest
    # committed directory, bump the version, delete its _SUCCESS marker
    torn = os.path.join(tdir, f"v={committed[-1] + 7}")
    shutil.copytree(os.path.join(tdir, f"v={committed[-1]}"), torn)
    os.remove(os.path.join(torn, "_SUCCESS"))

    assert _committed_versions(tdir) == committed  # torn version invisible
    got = {(r.user_id, r.event_id) for r in read_cdc_target(spark, tdir).collect()}
    assert got == want


def test_tws_user_stats_env_gate(spark):
    """transformWithStateInPandas needs the protobuf package on workers;
    without it (and without a vendorable local runtime) the operator
    must fail FAST with a clear message (the raw engine error is an
    opaque runner-init crash at query start). When protobuf is present
    or ``protobuf_vendor.ensure_protobuf`` can ship the host
    google-cloud-sdk's pure-Python runtime, the operator must drain to
    the same totals as the classic applyInPandasWithState topology."""
    import pytest

    from irio_mapreduce_spark.streaming.ops import tws_user_stats
    from irio_mapreduce_spark.streaming.protobuf_vendor import (
        ensure_protobuf,
    )

    events = spark.createDataFrame(
        [(1, 10.00), (1, 2.50), (2, 1.25)], "user_id long, value double"
    )
    if not ensure_protobuf(spark):
        with pytest.raises(RuntimeError, match="protobuf"):
            tws_user_stats(events)
        return
    # protobuf importable (native or vendored): run end-to-end on a file
    # replay. transformWithState requires the RocksDB state provider.
    import tempfile

    d = tempfile.mkdtemp(prefix="tws_") + "/in"
    events.write.json(d)
    stream = spark.readStream.schema("user_id long, value double").json(d)
    with scoped_conf(spark, _ROCKSDB):
        drained = drain(tws_user_stats(stream), output_mode="update").table
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(F.col("n").desc())
    out = {
        r.user_id: (r.n, r.total, r.max_value)
        for r in drained
        .withColumn("_rn", F.row_number().over(w))
        .filter("_rn = 1")
        .collect()
    }
    assert out == {1: (2, 12.50, 10.00), 2: (1, 1.25, 1.25)}


def test_dedup_within_watermark_state_expires(spark, tmp_path):
    """The bounded-state trade-off of dropDuplicatesWithinWatermark,
    pinned end to end: a duplicate arriving while the key's state is
    alive is SUPPRESSED; one arriving after the watermark passed the
    first occurrence's expiry (ts + delay) is RE-EMITTED — that is what
    'state bounded by the horizon' means, and it is exactly the behavior
    the unbounded dropDuplicates entry does not have. Three micro-batches:
    seed keys at 10:00; a same-batch-horizon duplicate plus a 20:00
    event that advances the watermark past the seeds' 11:00 expiry; then
    a key-1 re-send (fresh timestamp, above the watermark), which
    must come through again."""
    import datetime as dt

    from irio_mapreduce_spark.streaming import dedup_events

    d = str(tmp_path / "dedup_wm")
    t10 = dt.datetime(2024, 1, 1, 10, 0, 0)
    t20 = dt.datetime(2024, 1, 1, 20, 0, 0)
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"
    spark.createDataFrame(
        [(1, t10, 1, "click", 1.0), (2, t10, 1, "click", 1.0)], schema
    ).coalesce(1).write.parquet(d)
    t1030 = dt.datetime(2024, 1, 1, 10, 30, 0)
    t1930 = dt.datetime(2024, 1, 1, 19, 30, 0)
    # duplicates are KEY-only (the operator's point): the re-sent copies
    # carry their own (later) timestamps, keeping them above the
    # watermark — an old-timestamp copy would be dropped as LATE data
    # before dedup even sees it (verified: that path emits nothing)
    spark.createDataFrame(
        [(2, t1030, 1, "click", 1.0), (50, t20, 1, "click", 1.0)], schema
    ).coalesce(1).write.mode("append").parquet(d)
    # state eviction applies the watermark a batch AFTER it advances
    # (same one-batch trailing as window eviction, see the late-data
    # test above) — so a no-op-for-key-1 batch sits between the
    # watermark jump and the re-send
    spark.createDataFrame(
        [(60, dt.datetime(2024, 1, 1, 20, 15, 0), 1, "click", 1.0)], schema
    ).coalesce(1).write.mode("append").parquet(d)
    spark.createDataFrame(
        [(1, t1930, 1, "click", 1.0)], schema
    ).coalesce(1).write.mode("append").parquet(d)

    stream = read_events_stream(spark, d)  # one file per micro-batch
    drained = drain(dedup_events(stream, ["event_id"], watermark="1 hour")).table
    from collections import Counter

    emitted = Counter(r.event_id for r in drained.collect())
    # within-horizon duplicate of id 2 suppressed; id 1's state expired
    # (watermark 19:00 > 11:00 expiry) so its duplicate re-emitted
    assert emitted == {1: 2, 2: 1, 50: 1, 60: 1}, emitted


def test_index_maintenance_replay_idempotent(spark, tmp_path):
    """The foreachBatch index-maintenance loop's exactly-once effect,
    pinned the way test_cdc_upsert pins version replays: (1) a replayed
    micro-batch id rewrites ITS OWN seg=b<id> generation to the identical
    content — the probe excludes the batch's own segment, so the replay
    sees the index state minus itself (without the exclusion its own
    earlier output would mark every row duplicate and the replay would
    empty the segment); (2) a later batch dedups against an earlier
    batch's SURVIVORS, not just the base corpus."""
    from irio_mapreduce_spark.llm.dedup import (
        build_streaming_index_base,
        index_maintenance_handler,
        streaming_index_params,
    )

    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "one two three four five"),
        ],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "idx")
    build_streaming_index_base(corpus, "doc_id", "text", idx)
    assert streaming_index_params(idx) is not None
    handler = index_maintenance_handler(idx, "doc_id", "text")

    def seg_ids(seg):
        return {
            r._cid
            for r in spark.read.parquet(f"{idx}/docs")
            .filter(F.col("seg") == seg)
            .collect()
        }

    batch0 = spark.createDataFrame(
        [
            (10, "alpha beta gamma delta epsilon"),  # exact dup vs corpus
            (11, "totally new text about ducks and rivers flowing"),
        ],
        "doc_id long, text string",
    )
    handler(batch0, 0)
    assert seg_ids("b0") == {11}
    # replay of the SAME batch id: identical effect, no self-shadowing
    handler(batch0, 0)
    assert seg_ids("b0") == {11}
    # a later batch must dedup against batch 0's survivor
    batch1 = spark.createDataFrame(
        [
            (20, "totally new text about ducks and rivers flowing"),
            (21, "another fresh document entirely unique here"),
        ],
        "doc_id long, text string",
    )
    handler(batch1, 1)
    assert seg_ids("b1") == {21}


def test_kmeans_stream_handler_replay_idempotent(spark, tmp_path):
    """The streaming k-means model loop's restart contract: a replayed
    micro-batch id reads only centroid generations BELOW itself and
    overwrites only its own generation, so a crash-restart between
    triggers converges to identical artifacts; and chaining two rounds
    through the model store equals the batch 2-iteration result."""
    from irio_mapreduce_spark.llm.clustering import (
        kmeans_fixed_point,
        kmeans_stream_round_handler,
        scaled_vec,
    )

    vecs = [
        (i, [float(((i * 7 + d * 3) % 13) - 6) / 4.0 for d in range(4)])
        for i in range(12)
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    sv = df.select(
        F.col("vec_id").alias("_id"), scaled_vec(F.col("embedding")).alias("_sv")
    )
    model = str(tmp_path / "model")
    handler = kmeans_stream_round_handler(model, 3)

    def asg(gen):
        return {
            (r._id, r._c)
            for r in spark.read.parquet(f"{model}/asg/r{gen}").collect()
        }

    handler(sv, 0)
    first = asg(0)
    handler(sv, 0)  # replay of batch 0: identical effect
    assert asg(0) == first
    handler(sv, 1)
    final = asg(1)
    handler(sv, 1)  # replay of batch 1 reads gen 0, rewrites gen 1
    assert asg(1) == final
    batch = {
        (r.id, r.cluster)
        for r in kmeans_fixed_point(
            df, "embedding", "vec_id", k=3, iterations=2
        ).collect()
    }
    assert final == batch


def test_protobuf_vendor_zip_contents(spark, tmp_path):
    """The vendored protobuf zip must contain the namespace-extending
    google/__init__.py, the runtime package, and the guarded
    version-floor patch (major-equality only — minor gencode skew loads,
    major mismatch still raises)."""
    import zipfile

    from irio_mapreduce_spark.streaming import protobuf_vendor as pv

    root = pv._find_runtime_root()
    if root is None:
        import pytest

        pytest.skip("no local protobuf runtime to vendor on this host")
    zip_path = pv._build_zip(root)
    with zipfile.ZipFile(zip_path) as zf:
        names = set(zf.namelist())
        assert "google/__init__.py" in names
        assert "google/protobuf/__init__.py" in names
        rv = zf.read("google/protobuf/runtime_version.py").decode()
    assert "vendored patch" in rv
    assert "gen_major != MAJOR" in rv
    # ensure_protobuf memoizes per context and reports importable: the
    # second call is a session_memo hit
    from irio_mapreduce_spark import session

    assert pv.ensure_protobuf(spark) is True
    hits = session._MEMO_HITS["protobuf_vendor"]
    assert pv.ensure_protobuf(spark) is True
    assert session._MEMO_HITS["protobuf_vendor"] == hits + 1


def test_protobuf_vendor_ships_to_a_second_context():
    """A SparkContext started after ``spark.stop()`` in the same process
    is shipped the vendored zip too: it is among the new context's added
    files and on its ``environment["PYTHONPATH"]``, where
    transformWithState's driver worker looks. Runs in a subprocess so the
    suite's shared session is untouched."""
    import os
    import subprocess
    import sys
    import textwrap

    from irio_mapreduce_spark.streaming import protobuf_vendor as pv

    if pv._find_runtime_root() is None:
        pytest.skip("no local protobuf runtime to vendor on this host")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = textwrap.dedent(
        """
        import importlib.util
        if importlib.util.find_spec("google") is not None:
            raise SystemExit("installed")
        from irio_mapreduce_spark.session import get_spark
        from irio_mapreduce_spark.streaming.protobuf_vendor import ensure_protobuf
        for ctx in (1, 2):
            spark = get_spark(master="local[1]")
            sc = spark.sparkContext
            print(ctx, ensure_protobuf(spark),
                  any(f.endswith("protobuf_vendor.zip") for f in sc.listFiles),
                  "protobuf_vendor.zip" in sc.environment.get("PYTHONPATH", ""))
            spark.stop()
        """
    )
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=root,
        env={**os.environ, "PYTHONPATH": root},
        capture_output=True,
        text=True,
        timeout=300,
    )
    if "installed" in proc.stderr:
        pytest.skip("google.protobuf is installed: nothing is vendored")
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert proc.stdout.splitlines() == ["1 True True True", "2 True True True"]


def test_drain_reports_one_progress_entry_per_trigger(spark, unordered_dir):
    """``drain`` returns one progress entry per trigger: with one replay
    file per trigger, one entry per file, batchIds 0, 1, ... in order, and
    input rows summing to the source's row count; the same totals land in
    ``DRAIN_LOG``."""
    import glob
    import os

    from irio_mapreduce_spark.streaming import ops

    n_files = len(glob.glob(os.path.join(unordered_dir, "*.parquet")))
    logged = len(ops.DRAIN_LOG)
    progress = drain(read_events_stream(spark, unordered_dir), "noop").progress
    assert [p.batchId for p in progress] == list(range(n_files))
    n_rows = spark.read.parquet(unordered_dir).count()
    assert sum(p.numInputRows for p in progress) == n_rows
    [record] = ops.DRAIN_LOG[logged:]
    assert (record["triggers"], record["input_rows"]) == (n_files, n_rows)


@pytest.mark.parametrize("session_partitions", ["3", "5"])
def test_drain_state_partitions_ignore_session_count(
    spark, unordered_dir, tmp_path, session_partitions
):
    """A stateful drain writes exactly 8 state partitions whatever the
    session's shuffle-partition count, and leaves that count as it was."""
    import os

    from irio_mapreduce_spark.streaming.ops import STATE_PARTITIONS

    key = "spark.sql.shuffle.partitions"
    ck = str(tmp_path / "ck")
    with scoped_conf(spark, {key: session_partitions}):
        drain(
            dedup_events(
                read_events_stream(spark, unordered_dir), ["user_id", "event_type"]
            ),
            "noop",
            checkpoint=ck,
        )
        assert spark.conf.get(key) == session_partitions
    parts = sorted(int(p) for p in os.listdir(f"{ck}/state/0") if p.isdigit())
    assert STATE_PARTITIONS == 8
    assert parts == list(range(8))


def test_drain_raises_when_progress_ring_drops_triggers(spark, unordered_dir):
    """A ring of 2 progress entries cannot hold a 4-trigger replay: the
    drain fails loudly instead of returning the last two triggers."""
    import glob
    import os

    from irio_mapreduce_spark.streaming.ops import ProgressEvicted

    assert len(glob.glob(os.path.join(unordered_dir, "*.parquet"))) == 4
    with scoped_conf(spark, {"spark.sql.streaming.numRecentProgressUpdates": "2"}):
        with pytest.raises(ProgressEvicted, match="but the run began at 0"):
            drain(read_events_stream(spark, unordered_dir), "noop")


def test_rocksdb_changelog_resume_three_incarnations(spark):
    """The RocksDB changelog path over ONE checkpoint as three query
    incarnations (the catalog entry runs two): changelog files land, each
    incarnation resumes at the batch after the previous one's last, not at
    0, and the deduplicated sink equals the batch DISTINCT of the rows."""
    import glob
    import os

    from irio_mapreduce_spark.io import read_table
    from irio_mapreduce_spark.queries.streaming_q import (
        _ROCKSDB_CHANGELOG,
        _resumed_dedup,
    )

    with scoped_conf(spark, _ROCKSDB_CHANGELOG):
        out, progress, ck = _resumed_dedup(spark, SF_DIR, 5, 3, "changelog3_")
    assert glob.glob(os.path.join(ck, "state", "**", "*.changelog"), recursive=True)
    assert len(progress) == 3 and all(progress)
    assert progress[0][0].batchId == 0
    for prev, cur in zip(progress, progress[1:]):
        assert cur[0].batchId == prev[-1].batchId + 1
    rows = (
        read_table(spark, SF_DIR, "events")
        .filter(F.col("event_id") % 5 == 0)
        .select("event_id", "ts", "event_type", "value")
        .distinct()
    )
    want = rows.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long")).cast("long").alias("cents"),
        F.sum("event_id").cast("long").alias("id_sum"),
    )
    cols = ["event_type", "n", "cents", "id_sum"]
    assert rows_set(out, cols) == rows_set(want, cols)
