"""Streaming catalog queries: each entry REALLY RUNS Structured Streaming
(file-stream replay of ``events`` -> windowed/stateful query -> sink,
drained by ``streaming.ops.drain``, whose docstring states the drain
policy: availableNow trigger, 8 state partitions, per-trigger progress)
and returns the drained result, so the driver's correctness gate
exercises the streaming engine itself — not just the batch twin. Results
are deterministic (complete/append modes over a finite replay), so the
same DuckDB oracles as the batch entries apply.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from irio_mapreduce_spark.operators.barrier import barrier
from irio_mapreduce_spark.queries.catalog import register
from irio_mapreduce_spark.session import scoped_conf, session_memo
from irio_mapreduce_spark.streaming import (
    dedup_events,
    drain,
    stream_stream_interval_join,
    read_events_stream,
    replay_chunks,
    replay_time_ordered,
    sentinel_events,
    session_rollup,
    sliding_value_rollup,
    stateful_holt_linear,
    stateful_user_totals,
    stream_static_enrich,
    tumbling_value_rollup,
)

# The RocksDB state-store provider: the 100 TB state backend (bounded
# executor heap, local-disk spill, incremental checkpoints), and the one
# transformWithState requires. Entries scope it around their drain.
_ROCKSDB = {
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
}
# RocksDB with per-commit changelogs in place of full snapshots.
_ROCKSDB_CHANGELOG = {
    **_ROCKSDB,
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
}


# One materialized replay per (session, sf_dir): the chunking is
# deterministic (event_id % n_chunks), so every streaming entry can stream
# the same directory — re-materializing per entry was 4 write jobs each.
def _replay_dir(spark: SparkSession, sf_dir: str) -> str:
    return session_memo(
        ("replay", sf_dir),
        lambda: replay_chunks(
            spark, sf_dir, tempfile.mkdtemp(prefix="stream_q_") + "/events", n_chunks=4
        ),
    )


def _replayed_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_events_stream(spark, _replay_dir(spark, sf_dir), max_files_per_trigger=2)


@register(
    "stream_tumbling_rollup",
    oracle="""
    SELECT strftime(time_bucket(INTERVAL 1 DAY, ts), '%Y-%m-%d %H:%M:%S') AS win_start,
           event_type,
           count(*) AS n,
           round(sum(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_tumbling_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregate executed BY THE STREAMING ENGINE (4-chunk
    out-of-order file replay, complete output mode) — the oracle is the
    same SQL that checks the batch twin, proving stream/batch equivalence
    under the driver's hash, not just in pytest."""
    drained = drain(
        tumbling_value_rollup(_replayed_stream(spark, sf_dir)), output_mode="complete"
    ).table
    return drained.select(
        F.date_format("win_start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
        "event_type",
        "n",
        "total_value",
    )


@register(
    "stream_stateful_dedup",
    oracle="""
    SELECT event_type, count(*) AS n_keys
    FROM (SELECT DISTINCT user_id, event_type FROM events)
    GROUP BY event_type
    """,
)
def stream_stateful_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup on (user_id, event_type) across
    micro-batches, then a per-type count of the emitted first-seen rows —
    equals batch DISTINCT regardless of replay order."""
    drained = drain(
        dedup_events(_replayed_stream(spark, sf_dir), ["user_id", "event_type"])
    ).table
    return drained.groupBy("event_type").agg(F.count("*").alias("n_keys"))


@register(
    "stream_static_join_rollup",
    oracle="""
    SELECT e.event_type,
           round(sum(e.value * w.weight), 2) AS weighted_value,
           count(*) AS n
    FROM events e
      JOIN (VALUES ('click', 1.0), ('view', 0.1), ('purchase', 10.0),
                   ('signup', 5.0), ('error', -1.0)) AS w(event_type, weight)
        ON e.event_type = w.event_type
    GROUP BY e.event_type
    """,
)
def stream_static_join_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join (broadcast dimension re-read per
    micro-batch) aggregated per type, run on the streaming engine in
    complete mode."""
    dim = spark.createDataFrame(
        [("click", 1.0), ("view", 0.1), ("purchase", 10.0), ("signup", 5.0), ("error", -1.0)],
        ["event_type", "weight"],
    )
    enriched = stream_static_enrich(
        _replayed_stream(spark, sf_dir), dim, "event_type"
    )
    agg = enriched.groupBy("event_type").agg(
        F.round(F.sum(F.col("value") * F.col("weight")), 2).alias("weighted_value"),
        F.count("*").alias("n"),
    )
    return drain(agg, output_mode="complete").table

@register(
    "stream_custom_stateful_totals",
    oracle="""
    SELECT user_id, round(sum(value), 2) AS total, count(*) AS n
    FROM events WHERE user_id % 11 = 0
    GROUP BY user_id
    """,
)
def stream_custom_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM stateful operator (``applyInPandasWithState``) under the
    driver's oracle gate: per-user running (total, count) state carried
    across micro-batches in update mode — the escape hatch for operators
    the built-in windows can't express. Each user's FINAL emission (the
    one with the highest monotonically-growing count, picked by a window
    rank) must equal the batch aggregate over the whole replay. The
    emission order across batches is deterministic here (fixed chunk →
    batch assignment), so the rounded totals are stable run-to-run."""
    return _drain_stateful_totals(spark, sf_dir)


def _drain_stateful_totals(
    spark: SparkSession, sf_dir: str, checkpoint: str | None = None
) -> DataFrame:
    """Shared body of the two stateful-totals entries (default vs RocksDB
    state backend — same topology, same final-emission selection): drain
    per-user running totals in update mode, keep each user's final
    emission (highest monotonically-growing count)."""
    from pyspark.sql.window import Window

    stream = _replayed_stream(spark, sf_dir).filter(F.col("user_id") % 11 == 0)
    drained = drain(
        stateful_user_totals(stream), output_mode="update", checkpoint=checkpoint
    ).table
    w = Window.partitionBy("user_id").orderBy(F.col("n").desc())
    return (
        drained
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", "total", "n")
    )


# Sentinel for the session entry: divisible by 101 so it passes the entry's
# user filter (the watermark node only sees post-filter rows), far outside
# the real user-id range.
_SESSION_SENTINEL = 101 * 10**7

# r12 (guide §1.3): seven entries each re-materialized their own
# time-ordered replay (events scan + quantile chunking + write job,
# ~2.3 s warm at sf0.1) only to then append entry-specific sentinel or
# straggler files. The chunking is deterministic, so the BASE chunk files
# are built once per (session, sf_dir, n_chunks) and copied
# (shutil.copy2 preserves the mtimes the file source replays by) into a
# private per-entry directory the entry is free to append to.
def _fresh_ordered_replay(
    spark: SparkSession, sf_dir: str, n_chunks: int, prefix: str
) -> str:
    import os
    import shutil

    base = session_memo(
        ("ordered_base", sf_dir, n_chunks),
        lambda: replay_time_ordered(
            spark,
            sf_dir,
            tempfile.mkdtemp(prefix=f"stream_q_obase{n_chunks}_") + "/events",
            n_chunks=n_chunks,
        ),
    )
    d = tempfile.mkdtemp(prefix=prefix) + "/events"
    os.makedirs(d)
    for f in os.listdir(base):
        shutil.copy2(os.path.join(base, f), os.path.join(d, f))
    return d


def _ordered_replay_dir(spark: SparkSession, sf_dir: str) -> str:
    return session_memo(
        ("ordered_replay", sf_dir),
        lambda: replay_time_ordered(
            spark,
            sf_dir,
            tempfile.mkdtemp(prefix="stream_q_ord_") + "/events",
            n_chunks=4,
            sentinel_user=_SESSION_SENTINEL,
        ),
    )


@register(
    "stream_session_rollup",
    oracle="""
    WITH u AS (SELECT user_id, ts, value FROM events WHERE user_id % 101 = 0),
    flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       < INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS new_session
      FROM u),
    sessions AS (
      SELECT user_id, ts, value,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flagged)
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM sessions GROUP BY user_id, sid
    """,
)
def stream_session_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SESSION windows executed by the streaming engine (append mode +
    watermark — the only mode streaming sessionization supports): 30-min
    gap sessions per user over a TIME-ORDERED 4-chunk replay, with a
    far-future sentinel event that advances the watermark past every real
    session so append-mode output is complete (the
    tests/test_streaming.py sentinel technique, now under the driver's
    oracle gate). The oracle is the same lag/flag/cumsum sessionization
    that checks the batch twin (strict ``<`` gap test — session windows
    are end-exclusive). The sentinel user id is divisible by 101 so it
    passes the entry's user filter (the watermark node only sees
    post-filter rows); its own never-closed session is excluded from the
    output."""
    d = _ordered_replay_dir(spark, sf_dir)
    # 2 files/trigger: 3 micro-batches (2 real + the sentinel's own),
    # same 963-row output as 1-file triggers, half the drain time.
    stream = read_events_stream(spark, d, max_files_per_trigger=2).filter(
        (F.col("user_id") % 101 == 0)
    )
    sessions = session_rollup(stream, gap="30 minutes", watermark="1 minute")
    drained = drain(sessions).table
    return (
        drained
        .filter(F.col("user_id") != _SESSION_SENTINEL)
        .select(
            "user_id",
            F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            "n_events",
            "total_value",
        )
    )


@register(
    "stream_stream_join_attrib",
    oracle="""
    SELECT l.event_id AS click_id, r.event_id AS buy_id,
           l.user_id AS user_id,
           CAST(epoch_us(r.ts) - epoch_us(l.ts) AS BIGINT) AS delay_us
    FROM events l JOIN events r
      ON l.user_id = r.user_id
     AND l.event_type = 'click' AND r.event_type = 'purchase'
     AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 24 HOUR
    """,
)
def stream_stream_join_attrib(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM inner join on the streaming engine: clicks joined to
    purchases by the same user within 24 h (the attribution topology). Both
    sides are independent file-stream sources over the same out-of-order
    replay; matches are emitted as both rows land in join state, whatever
    order the chunks deliver them. Run unwatermarked (finite replay -> no
    eviction -> drained result equals the batch join, which is the oracle);
    the watermarked bounded-state form is exercised by
    tests/test_streaming.py::test_stream_stream_join_batch_equivalence.
    ``delay_us`` is an exact integer microsecond difference — tz-shift-
    invariant and float-free on both engines."""
    d = _replay_dir(spark, sf_dir)
    clicks = read_events_stream(spark, d, max_files_per_trigger=2).filter(
        F.col("event_type") == "click"
    )
    buys = read_events_stream(spark, d, max_files_per_trigger=2).filter(
        F.col("event_type") == "purchase"
    )
    joined = stream_stream_interval_join(clicks, buys, "user_id", "24 hours")
    out = joined.select(
        F.col("l.event_id").alias("click_id"),
        F.col("r.event_id").alias("buy_id"),
        F.col("l.user_id").alias("user_id"),
        (F.unix_micros(F.col("r.ts")) - F.unix_micros(F.col("l.ts"))).alias(
            "delay_us"
        ),
    )
    return drain(out).table


@register(
    "stream_cdc_upsert",
    oracle="""
    WITH r AS (
      SELECT user_id, event_type, value,
             strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
             row_number() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
    SELECT user_id, event_type AS last_type, value AS last_value,
           ts_s AS last_ts
    FROM r WHERE rn = 1
    """,
)
def stream_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC upsert (the Delta-style 'streaming MERGE into a
    table'): the replayed event stream drains through ``foreachBatch``,
    each micro-batch compacted to its latest record per user and merged
    into a versioned parquet target with recency semantics — see
    ``streaming.ops.cdc_upsert_drain`` for the idempotent-retry version
    discipline. The final committed target (the latest record per user
    across the whole stream) is compared against the batch argmax oracle,
    proving the incremental merge path equals the batch truth."""
    import tempfile as _tf

    from irio_mapreduce_spark.streaming import (
        cdc_upsert_drain,
        read_cdc_target,
        read_events_stream,
    )

    replay = _replay_dir(spark, sf_dir)
    tdir = _tf.mkdtemp(prefix="cdc_target_")
    ckpt = _tf.mkdtemp(prefix="cdc_ckpt_") + "/cp"
    cdc_upsert_drain(read_events_stream(spark, replay), tdir, ckpt)
    out = read_cdc_target(spark, tdir)
    return out.select(
        "user_id",
        F.col("event_type").alias("last_type"),
        F.col("value").alias("last_value"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
    )


@register(
    "stream_exactly_once_sink",
    oracle="""
    SELECT strftime(time_bucket(INTERVAL 1 DAY, ts), '%Y-%m-%d') AS day,
           event_type,
           count(*) AS n,
           round(sum(value), 2) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def stream_exactly_once_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``foreachBatch`` EXACTLY-ONCE parquet sink under the driver's
    oracle gate: the replayed event stream drains through
    ``streaming.ops.write_stream_parquet_exactly_once`` (each micro-batch
    overwrites its own ``_batch_id=<n>`` partition), then the entry
    REPLAYS the final batch's write — exactly what a retry after a crash
    between write and checkpoint commit does. Because the writer replaces
    rather than appends, the read-back daily rollup still equals the
    batch truth; an append-mode sink would double that batch's counts and
    hash-mismatch. This promotes the pytest-only retry evidence
    (tests/test_streaming.py) into a driver-visible check."""
    import os as _os
    import tempfile as _tf

    from irio_mapreduce_spark.streaming import (
        read_events_stream,
        write_stream_parquet_exactly_once,
    )

    d = _replay_dir(spark, sf_dir)
    out = _tf.mkdtemp(prefix="eos_out_") + "/t"
    ck = _tf.mkdtemp(prefix="eos_ck_") + "/cp"
    write_stream_parquet_exactly_once(
        read_events_stream(spark, d, max_files_per_trigger=2), out, ck
    )
    # Simulate the retried batch: re-run the final batch's idempotent
    # write (same rows, same partition, overwrite). Barrier first —
    # overwriting a path that is also the read source is illegal.
    batches = sorted(
        int(p.split("=")[1])
        for p in _os.listdir(out)
        if p.startswith("_batch_id=")
    )
    last_dir = _os.path.join(out, f"_batch_id={batches[-1]}")
    replay_rows = barrier(spark.read.parquet(last_dir))
    replay_rows.write.mode("overwrite").parquet(last_dir)
    return (
        spark.read.parquet(out)
        .groupBy(
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


@register(
    "stream_rocksdb_state_totals",
    oracle="""
    SELECT user_id, round(sum(value), 2) AS total, count(*) AS n
    FROM events WHERE user_id % 11 = 0
    GROUP BY user_id
    """,
)
def stream_rocksdb_state_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``stream_custom_stateful_totals`` topology executed on the
    ROCKSDB state-store provider — the 100 TB state backend (bounded
    executor heap, local-disk spill, incremental checkpoints) — instead
    of the default in-heap HDFS-backed provider. The entry raises unless
    RocksDB actually engaged (SST files present in the state checkpoint),
    so a silently-ignored conf shows up as a driver red, and the drained
    per-user totals must still equal the batch aggregate: state backend
    changes storage, never semantics."""
    import glob as _glob
    import os as _os
    import tempfile as _tf

    ck = _tf.mkdtemp(prefix="rocks_ck_") + "/cp"
    with scoped_conf(spark, _ROCKSDB):
        out = _drain_stateful_totals(spark, sf_dir, checkpoint=ck)
    if not _glob.glob(_os.path.join(ck, "state", "**", "*.sst"), recursive=True):
        raise RuntimeError(
            "RocksDB provider set but no SST files in state checkpoint"
        )
    return out


@register(
    "stream_tws_stateful_totals",
    oracle="""
    SELECT user_id, count(*) AS n, round(sum(value), 2) AS total,
           max(value) AS max_value
    FROM events WHERE user_id % 11 = 0
    GROUP BY user_id
    """,
)
def stream_tws_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``stream_custom_stateful_totals`` topology on Spark 4's
    **transformWithStateInPandas** API (``streaming.ops.tws_user_stats``)
    under the driver's oracle gate — named, individually-evolvable state
    handles instead of the classic API's one opaque tuple, running on
    the protocol that REQUIRES protobuf on the Python side: the entry is
    the end-to-end proof that ``protobuf_vendor.ensure_protobuf``'s
    addPyFile + sc.environment[PYTHONPATH] shipping reaches BOTH worker
    classes (executor task workers and the JVM-spawned state-protocol
    driver worker). transformWithState also mandates the RocksDB state
    provider — the 100 TB state backend — scoped set/restore like
    ``stream_rocksdb_state_totals``. Each user's final emission (highest
    monotonically-growing count) must equal the batch aggregate; the
    running total accumulates as exact integer cents in state, so the
    emission is independent of micro-batch replay slicing.
    """
    from pyspark.sql.window import Window

    from irio_mapreduce_spark.streaming.ops import tws_user_stats
    from irio_mapreduce_spark.streaming.protobuf_vendor import (
        ensure_protobuf,
    )

    if not ensure_protobuf(spark):
        raise RuntimeError(
            "no protobuf runtime available to vendor — "
            "transformWithStateInPandas cannot run in this environment"
        )
    stream = _replayed_stream(spark, sf_dir).filter(
        F.col("user_id") % 11 == 0
    )
    with scoped_conf(spark, _ROCKSDB):
        drained = drain(tws_user_stats(stream), output_mode="update").table
    w = Window.partitionBy("user_id").orderBy(F.col("n").desc())
    return (
        drained
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", "n", "total", "max_value")
    )


@register(
    "stream_watermark_late_drop",
    oracle="""
    SELECT strftime(time_bucket(INTERVAL 1 DAY, ts), '%Y-%m-%d %H:%M:%S') AS win_start,
           event_type,
           count(*) AS n,
           round(sum(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_watermark_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WATERMARK LATE-DATA DROP under the driver's oracle gate. The replay
    is three time-ordered chunks of ``events``, then a fourth micro-batch
    of LATE STRAGGLERS — verbatim copies of every first-day event under
    shifted ids, arriving when the applied watermark (max event time
    through chunk 3, minus the 1 h delay) is weeks past their daily
    window's end — then a far-future sentinel that flushes every real
    window out of the append-mode aggregation. Because closed windows
    drop late rows, the drained result must equal the plain daily rollup
    over ``events`` (the oracle, which never sees the synthetic
    stragglers); an engine that accepted them would double the first
    day's counts and hash-mismatch. The sentinel's own window never
    closes, so it never emits — no output filtering. Promotes the
    pytest-only late-drop evidence (tests/test_streaming.py) into a
    driver-visible check."""
    import os as _os
    import time as _time

    from irio_mapreduce_spark.io import read_table

    d = _fresh_ordered_replay(spark, sf_dir, 3, "late_replay_")
    ev = read_table(spark, sf_dir, "events")
    first_day = ev.select(F.min(F.to_date("ts")).alias("d0"))
    stragglers = (
        ev.join(F.broadcast(first_day))
        .filter(F.to_date("ts") == F.col("d0"))
        .select(
            (F.col("event_id") + 10**7).alias("event_id"),
            "ts",
            "user_id",
            "event_type",
            "value",
            "props",
        )
    )
    before = set(_os.listdir(d))
    stragglers.coalesce(1).write.mode("append").parquet(d)
    after_stragglers = set(_os.listdir(d))
    sentinel_events(ev, sentinel_user=-1).coalesce(1).write.mode(
        "append"
    ).parquet(d)
    # The replay order is file-mtime order (chunks are back-dated by the
    # sequencer); pin stragglers after the chunks and the sentinel last —
    # the two appends' natural mtimes can tie at filesystem resolution.
    now = _time.time()
    for f in after_stragglers - before:
        _os.utime(_os.path.join(d, f), (now + 2.0, now + 2.0))
    for f in set(_os.listdir(d)) - after_stragglers:
        _os.utime(_os.path.join(d, f), (now + 4.0, now + 4.0))

    stream = read_events_stream(spark, d, max_files_per_trigger=1)
    rollup = tumbling_value_rollup(stream, watermark="1 hour")
    return drain(rollup).table.select(
        F.date_format("win_start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
        "event_type",
        "n",
        "total_value",
    )


@register(
    "stream_sliding_rollup",
    oracle="""
    WITH ex AS (
      SELECT unnest([
               to_timestamp(CAST(floor(epoch(ts) / 86400) * 86400 AS BIGINT)),
               to_timestamp(CAST(floor(epoch(ts) / 86400) * 86400 - 86400 AS BIGINT))
             ])::TIMESTAMP AS win_start,
             value
      FROM events)
    SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S') AS win_start,
           count(*) AS n, round(sum(value), 2) AS total_value
    FROM ex GROUP BY 1
    """,
)
def stream_sliding_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLIDING windows (2-day width, 1-day slide — every event lands in
    exactly two windows) executed by the streaming engine over the 4-chunk
    out-of-order replay, complete mode. Same oracle as the batch twin
    ``events_sliding_window``, the last built-in window shape that was
    pytest-equivalence-only."""
    drained = drain(
        sliding_value_rollup(_replayed_stream(spark, sf_dir)), output_mode="complete"
    ).table
    return drained.select(
        F.date_format("win_start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
        "n",
        "total_value",
    )


@register(
    "stream_stream_left_outer",
    oracle="""
    SELECT l.event_id AS click_id, r.event_id AS buy_id, l.user_id AS user_id
    FROM (SELECT * FROM events WHERE event_type = 'click') l
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
      ON l.user_id = r.user_id
     AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 6 HOUR
    """,
)
def stream_stream_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join on the streaming engine —
    the shape whose null-padded rows can only emit once the WATERMARK
    proves no match can still arrive (outer joins REQUIRE watermarks).
    Time-ordered 4-chunk replay with far-future sentinel events on BOTH
    inputs (the join watermark is the min across inputs; a one-sided
    sentinel would stall it) flushes all outer state, and the drained
    result must equal the batch left-outer interval join — the oracle,
    which never sees the sentinels. Promotes the last pytest-only
    stream-stream shape (left-outer equivalence) to the driver gate."""

    d = _fresh_ordered_replay(spark, sf_dir, 4, "ss_outer_")
    base = spark.read.parquet(d)
    sentinel_user = 101 * 10**7 + 3
    sentinel_events(
        base, sentinel_user, types=[(-1, "click"), (-2, "purchase")]
    ).coalesce(1).write.mode("append").parquet(d)

    # r13 (guide §2.6): each micro-batch of this topology costs ~1.2 s of
    # fixed per-trigger scheduling/state-commit (measured via
    # lastProgress durationMs); 3 files/trigger drains the 5-file replay
    # in TWO data batches instead of three — still ≥2, so cross-batch
    # arrival and join-state maintenance stay exercised — and the
    # watermark-flush batch emits the same outer rows (the drained SET is
    # batching-invariant; the batch oracle pins it).
    stream = read_events_stream(spark, d, max_files_per_trigger=3)
    clicks = stream.filter(F.col("event_type") == "click")
    buys = stream.filter(F.col("event_type") == "purchase")
    joined = stream_stream_interval_join(
        clicks,
        buys,
        "user_id",
        "6 hours",
        left_watermark="1 hour",
        right_watermark="1 hour",
        how="left_outer",
    ).select(
        F.col("l.event_id").alias("click_id"),
        F.col("r.event_id").alias("buy_id"),
        F.col("l.user_id").alias("user_id"),
    )
    return drain(joined).table.filter(F.col("user_id") != sentinel_user)


@register(
    "stream_stream_full_outer",
    oracle="""
    SELECT l.event_id AS click_id, r.event_id AS buy_id,
           coalesce(l.user_id, r.user_id) AS user_id
    FROM (SELECT * FROM events WHERE event_type = 'click'
            AND user_id % 3 = 0) l
    FULL JOIN (SELECT * FROM events WHERE event_type = 'purchase'
                 AND user_id % 3 = 0) r
      ON l.user_id = r.user_id
     AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 6 HOUR
    """,
)
def stream_stream_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER interval join — completes the outer-join
    family on the real engine (inner: `stream_stream_join_attrib`;
    left: `stream_stream_left_outer`): null-padding happens on BOTH
    sides, each gated by the same min-across-inputs watermark, so both
    inputs carry far-future sentinels and unmatched purchases emit a
    null click exactly as unmatched clicks emit a null purchase. The
    user filter keeps the state bounded per trigger; the batch
    full-outer interval join (never seeing the sentinels) is the
    oracle."""

    d = _fresh_ordered_replay(spark, sf_dir, 4, "ss_fouter_")
    base = spark.read.parquet(d)
    sentinel_user = 3 * 10**9
    sentinel_events(
        base, sentinel_user, types=[(-1, "click"), (-2, "purchase")]
    ).coalesce(1).write.mode("append").parquet(d)

    # r13: 3 files/trigger — 2 data batches instead of 3 (see
    # stream_stream_left_outer; output set is batching-invariant).
    stream = read_events_stream(spark, d, max_files_per_trigger=3).filter(
        F.col("user_id") % 3 == 0
    )
    clicks = stream.filter(F.col("event_type") == "click")
    buys = stream.filter(F.col("event_type") == "purchase")
    joined = stream_stream_interval_join(
        clicks,
        buys,
        "user_id",
        "6 hours",
        left_watermark="1 hour",
        right_watermark="1 hour",
        how="full_outer",
    ).select(
        F.col("l.event_id").alias("click_id"),
        F.col("r.event_id").alias("buy_id"),
        F.coalesce(F.col("l.user_id"), F.col("r.user_id")).alias("user_id"),
    )
    return drain(joined).table.filter(F.col("user_id") != sentinel_user)


@register(
    "stream_state_store_read",
    oracle="""
    SELECT event_type, CAST(sum(user_id) AS BIGINT) AS user_id_sum
    FROM events WHERE user_id % 13 = 0 GROUP BY event_type
    """,
)
def stream_state_store_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATE STORE READER (Spark 4 ``statestore`` batch source): after a
    stateful streaming aggregation drains, its checkpoint is itself a
    queryable TABLE — the ops/debugging surface for inspecting live
    streaming state without stopping the query (state-for-key forensics,
    state-size audits, seeding migrations). The entry drains a grouped
    sum over the event replay into a fresh checkpoint (noop sink: state
    is the product, not the emissions), then reads the state back via
    ``spark.read.format("statestore")`` and flattens key/value structs to
    plain columns. The oracle is the same aggregate stated in batch SQL —
    an exact hash match proves checkpointed state IS the aggregate, i.e.
    recovery replays nothing.

    Scale: the reader exposes one row per state entry with
    partition-parallel scans of the HDFS/RocksDB store files; state
    partition count is ``drain``'s (state volume, not CPU count) exactly
    as the other stateful entries."""
    import tempfile as _tf

    stream = _replayed_stream(spark, sf_dir).filter(F.col("user_id") % 13 == 0)
    agg = stream.groupBy("event_type").agg(F.sum("user_id").alias("s"))
    ck = _tf.mkdtemp(prefix="ssread_q_") + "/ck"
    drain(agg, "noop", output_mode="update", checkpoint=ck)
    st = spark.read.format("statestore").load(ck)
    return st.select(
        F.col("key.event_type").alias("event_type"),
        F.col("value.sum").cast("long").alias("user_id_sum"),
    )


@register(
    "stream_dynamic_session_gap",
    oracle="""
    WITH pts AS (
      SELECT user_id, epoch_us(ts) AS t, event_id,
             CASE WHEN event_type = 'purchase'
                  THEN 2400000000 ELSE 1200000000 END AS g
      FROM events WHERE user_id % 101 = 0),
    seq AS (
      SELECT user_id, t, g,
             max(t + g) OVER (
               PARTITION BY user_id ORDER BY t, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS prev_end,
             event_id
      FROM pts),
    sid AS (
      SELECT user_id, t, g,
             sum(CASE WHEN prev_end IS NULL OR t >= prev_end
                      THEN 1 ELSE 0 END) OVER (
               PARTITION BY user_id ORDER BY t, event_id
               ROWS UNBOUNDED PRECEDING
             ) AS s
      FROM seq)
    SELECT user_id,
           CAST(min(t) AS BIGINT) AS start_us,
           CAST(max(t + g) AS BIGINT) AS end_us,
           CAST(count(*) AS BIGINT) AS n_events
    FROM sid GROUP BY user_id, s
    """,
)
def stream_dynamic_session_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC-gap sessions on the REAL streaming engine — the streaming
    twin of the batch events_dynamic_session_gap entry: per-event gap
    expression (purchases hold sessions open 40 minutes, other events
    20) inside ``session_window`` under append mode + watermark, drained
    over the time-ordered 4-chunk replay with the far-future sentinel
    flushing every real session past the watermark (the established
    sentinel technique; its id passes the % 101 filter and its own
    never-closed session is excluded). The oracle derives the same
    sessions from first principles (running max span end, end-exclusive
    break) — a hash match proves the INCREMENTAL merge of
    variable-width spans equals the batch semantics, state bounded by
    the watermark as always."""
    d = _ordered_replay_dir(spark, sf_dir)
    stream = read_events_stream(spark, d, max_files_per_trigger=2).filter(
        F.col("user_id") % 101 == 0
    )
    gap = F.when(F.col("event_type") == "purchase", F.lit("40 minutes")).otherwise(
        F.lit("20 minutes")
    )
    sessions = (
        stream.withWatermark("ts", "1 minute")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").cast("long").alias("n_events"))
    )
    drained = drain(sessions).table
    return (
        drained
        .filter(F.col("user_id") != _SESSION_SENTINEL)
        .select(
            "user_id",
            F.unix_micros("w.start").alias("start_us"),
            F.unix_micros("w.end").alias("end_us"),
            "n_events",
        )
    )


@register(
    "stream_holt_linear_fixed_point",
    oracle="""
    WITH pts AS (
      SELECT user_id, CAST(floor(value * 100) AS BIGINT) AS cents,
             epoch_us(ts) AS t_us, event_id
      FROM events WHERE user_id % 23 = 0),
    lst AS (
      SELECT user_id, list(cents ORDER BY t_us, event_id) AS xs,
             CAST(count(*) AS BIGINT) AS n_events
      FROM pts GROUP BY user_id),
    fold AS (
      SELECT user_id, n_events,
             list_reduce(
               list_transform(xs, x -> (x + 536870912) * 2147483648 + 536870912),
               (acc, x) -> ((acc // 2147483648 - 536870912) + (acc % 2147483648 - 536870912) + (((x // 2147483648 - 536870912) - (acc // 2147483648 - 536870912) - (acc % 2147483648 - 536870912)) // 4) + 536870912) * 2147483648 + ((acc % 2147483648 - 536870912) + (((x // 2147483648 - 536870912) - (acc // 2147483648 - 536870912) - (acc % 2147483648 - 536870912)) // 4) // 8 + 536870912)) AS st
      FROM lst)
    SELECT user_id, n_events,
           CAST(st // 2147483648 - 536870912 AS BIGINT) AS level_cents,
           CAST(st % 2147483648 - 536870912 AS BIGINT) AS trend_cents,
           CAST((st // 2147483648 - 536870912) + 3 * (st % 2147483648 - 536870912) AS BIGINT)
             AS forecast3_cents
    FROM fold
    """,
)
def stream_holt_linear_fixed_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt LINEAR-TREND smoothing on the REAL streaming engine — the
    ``applyInPandasWithState`` twin of the batch packed-fold entry
    (``events_holt_linear_fixed_point``, same oracle verbatim): per-user
    (level, trend, n) state advances across micro-batches of the
    TIME-ORDERED 4-chunk replay with the identical truncating-integer
    transition, and each user's final emission (max n, update mode) must
    hash-match the batch fold over the whole history. This is exactly
    the recursion class the r6 review flagged as ``transformWithState``'s
    natural workload — multi-component numeric state the batch side has
    to PACK into one BIGINT (a single ``aggregate`` accumulator) lives
    here as two named state columns. Time-ordered chunking is what makes
    stream ≡ batch: chunk ranges partition event time (ties inseparable
    by construction), and the fold sorts within each batch, so the
    global fold order is (t_us, event_id) on both paths. The sentinel
    row fails the % 23 filter, so no exclusion step is needed."""
    from pyspark.sql.window import Window

    d = _ordered_replay_dir(spark, sf_dir)
    stream = (
        read_events_stream(spark, d, max_files_per_trigger=2)
        .filter(F.col("user_id") % 23 == 0)
        .select(
            "user_id",
            F.floor(F.col("value") * 100).cast("long").alias("cents"),
            F.unix_micros("ts").alias("t_us"),
            "event_id",
        )
    )
    drained = drain(stateful_holt_linear(stream), output_mode="update").table
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        drained
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "user_id",
            "n_events",
            "level_cents",
            "trend_cents",
            (F.col("level_cents") + 3 * F.col("trend_cents"))
            .cast("long")
            .alias("forecast3_cents"),
        )
    )


@register(
    "stream_dedup_within_watermark",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT event_id) AS BIGINT) AS n_events
    FROM events WHERE user_id % 13 = 0
    GROUP BY event_type
    """,
)
def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOUNDED-STATE streaming dedup (``dropDuplicatesWithinWatermark``)
    — the 100 TB answer to duplicate suppression on an infinite stream,
    where the unbounded-state entry (`stream_stateful_dedup`,
    ``dropDuplicates``) would grow state forever: a key's dedup state
    lives only for the watermark delay, so the operator suppresses
    duplicates arriving within that horizon and the state size is
    bounded by the horizon's key arrival rate. Here every event arrives
    TWICE (the same time-ordered replay read through two source
    instances, unioned — duplicate copies land in the same micro-batch),
    the 7-day watermark comfortably covers the duplicate-arrival gap,
    and the emitted per-type counts must equal batch COUNT(DISTINCT
    event_id). The expiry semantics themselves (a duplicate arriving
    AFTER the horizon is re-emitted — the documented trade-off, not a
    bug) are pinned by tests/test_streaming.py on a hand-built far-apart
    pair, which an exact oracle over this corpus cannot express."""
    d = _ordered_replay_dir(spark, sf_dir)

    def side() -> DataFrame:
        return read_events_stream(spark, d, max_files_per_trigger=2).filter(
            F.col("user_id") % 13 == 0
        )

    stream = side().union(side())
    deduped = dedup_events(stream, ["event_id"], watermark="7 days")
    drained = drain(deduped).table
    return (
        drained
        .groupBy("event_type")
        .agg(F.count("*").cast("long").alias("n_events"))
    )


def _nearest_replay_dir(spark: SparkSession, sf_dir: str) -> str:
    """Time-ordered events replay with a TWO-TYPE far-future sentinel
    (one 'purchase', one 'click' row, negative ids): the nearest-as-of
    entry filters each join side to one type, and the watermark node on
    each side only sees post-filter rows — so flushing BOTH sides' state
    needs a sentinel that passes each side's filter."""
    from irio_mapreduce_spark.io import read_table

    def build() -> str:
        d = _fresh_ordered_replay(spark, sf_dir, 4, "stream_q_near_")
        ev = read_table(spark, sf_dir, "events")
        sentinel_events(
            ev, _SESSION_SENTINEL, types=[(-1, "purchase"), (-2, "click")]
        ).coalesce(1).write.mode("append").parquet(d)
        return d

    return session_memo(("nearest_replay", sf_dir), build)


@register(
    "stream_asof_nearest_attrib",
    oracle="""
    WITH p AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'purchase'),
    c AS (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'click'),
    m AS (
      SELECT p.event_id AS purchase_id, p.user_id,
             c.event_id AS click_id,
             abs(epoch_us(c.ts) - epoch_us(p.ts)) AS dist_us,
             row_number() OVER (
               PARTITION BY p.event_id
               ORDER BY abs(epoch_us(c.ts) - epoch_us(p.ts)),
                        CASE WHEN c.ts <= p.ts THEN 0 ELSE 1 END,
                        c.event_id DESC) AS rn
      FROM p JOIN c ON p.user_id = c.user_id
        AND c.ts >= p.ts - INTERVAL 24 HOUR
        AND c.ts <= p.ts + INTERVAL 24 HOUR)
    SELECT purchase_id, user_id, click_id, CAST(dist_us AS BIGINT) AS dist_us
    FROM m WHERE rn = 1
    """,
)
def stream_asof_nearest_attrib(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM NEAREST AS-OF JOIN — the streaming twin of
    ``join_asof_nearest`` (equidistant ties -> the PRIOR event, then max
    event id; exact integer microsecond gap), horizon-bounded at 24 h
    because that is what makes it STREAMABLE: unbounded nearest would
    need infinite lookback state, while the symmetric interval condition
    ``p.ts - H <= c.ts <= p.ts + H`` gives the engine per-side eviction
    thresholds. Topology: each purchase joins every same-user click in
    the horizon (watermarked stream-stream interval join), then a SECOND
    stateful operator — an event-time-windowed aggregation, Spark 4's
    chained-stateful-operators support — reduces each purchase's
    candidates to the argmin of ``(dist, direction, -click_id)`` via one
    ``min(struct(...))`` (total order, no floats). Run over a
    time-ordered replay with a 14-day watermark delay (>= chunk span -
    horizon, so eviction can never race a real match on this finite
    harness; production sizes it to horizon + max disorder) and a
    two-type far-future sentinel that advances both sides' watermarks
    past every real window, flushing join AND aggregation state. Oracle:
    the batch nearest-in-horizon argmin verbatim (row_number over dist,
    direction, id)."""
    d = _nearest_replay_dir(spark, sf_dir)
    # r13: 3 files/trigger — 2 data batches instead of 3 (see
    # stream_stream_left_outer; nearest-argmin output is
    # batching-invariant).
    purchases = (
        read_events_stream(spark, d, max_files_per_trigger=3)
        .filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "14 days")
    )
    clicks = (
        read_events_stream(spark, d, max_files_per_trigger=3)
        .filter(F.col("event_type") == "click")
        .withWatermark("ts", "14 days")
    )
    p, c = purchases.alias("p"), clicks.alias("c")
    cond = (
        (F.col("p.user_id") == F.col("c.user_id"))
        & (F.col("c.ts") >= F.col("p.ts") - F.expr("INTERVAL 24 HOURS"))
        & (F.col("c.ts") <= F.col("p.ts") + F.expr("INTERVAL 24 HOURS"))
    )
    dist = F.abs(
        F.unix_micros(F.col("c.ts")) - F.unix_micros(F.col("p.ts"))
    )
    joined = p.join(c, cond, "inner").select(
        F.col("p.ts").alias("pts"),
        F.col("p.event_id").alias("purchase_id"),
        F.col("p.user_id").alias("user_id"),
        F.struct(
            dist.alias("dist_us"),
            F.when(F.col("c.ts") <= F.col("p.ts"), F.lit(0))
            .otherwise(F.lit(1))
            .alias("dir"),
            (-F.col("c.event_id")).alias("neg_id"),
            F.col("c.event_id").alias("click_id"),
        ).alias("cand"),
    )
    agg = joined.groupBy(
        F.window("pts", "1 day"), "purchase_id", "user_id"
    ).agg(F.min("cand").alias("w"))
    drained = drain(agg).table
    # Sentinel exclusion and projection happen BATCH-SIDE on the drained
    # table: a `purchase_id >= 0` filter inside the streaming plan gets
    # pushed below the EventTimeWatermark node (it doesn't reference the
    # time column), which silently deletes the sentinel row before the
    # watermark ever sees it — the purchase-side watermark then stalls
    # at max(real ts) - delay and only the first half of the windows
    # flush. Found empirically (57/115 rows); the drained-table filter
    # is semantically identical and plan-safe.
    return (
        drained
        .filter(F.col("purchase_id") >= 0)
        .select(
            "purchase_id",
            "user_id",
            F.col("w.click_id").alias("click_id"),
            F.col("w.dist_us").cast("long").alias("dist_us"),
        )
    )


@register(
    "stream_tws_session_timers",
    oracle="""
    WITH u AS (SELECT user_id, ts, value FROM events WHERE user_id % 101 = 0),
    flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       < INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS new_session
      FROM u),
    sessions AS (
      SELECT user_id, ts, value,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flagged)
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM sessions GROUP BY user_id, sid
    """,
)
def stream_tws_session_timers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SESSIONIZATION REBUILT FROM EVENT-TIME TIMERS — the same 30-min
    sessions (same oracle) as ``stream_session_rollup``, but where that
    entry leans on the engine's built-in ``session_window`` aggregation,
    this one builds the operator from transformWithStateInPandas
    primitives: per-user ValueState + ONE registered event-time timer
    per key, with ``handleExpiredTimer`` closing idle sessions when the
    watermark passes ``last_seen + gap`` (``streaming.ops.
    tws_session_windows``). That a custom stateful operator reproduces
    the built-in's output bit-for-bit under the driver's hash is the
    strongest statement the timer API surface can make. Same
    time-ordered sentinel replay; the sentinel's own session has a
    timer the final watermark never reaches (sentinel - delay <
    sentinel + gap), so it stays in state and is filtered from the
    drained table. RocksDB provider scoped like every
    transformWithState entry."""
    from irio_mapreduce_spark.streaming.ops import tws_session_windows

    d = _ordered_replay_dir(spark, sf_dir)
    stream = (
        read_events_stream(spark, d, max_files_per_trigger=2)
        .filter(F.col("user_id") % 101 == 0)
        .withWatermark("ts", "1 minute")
        .select(
            "user_id",
            "ts",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us"),
            "value",
        )
    )
    with scoped_conf(spark, _ROCKSDB):
        drained = drain(tws_session_windows(stream)).table
    return (
        drained
        .filter(F.col("user_id") != _SESSION_SENTINEL)
        .select(
            "user_id",
            F.date_format(
                F.timestamp_micros(F.col("session_start_us")),
                "yyyy-MM-dd HH:mm:ss",
            ).alias("session_start"),
            "n_events",
            "total_value",
        )
    )


@register(
    "stream_observe_metrics",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN value >= 0 THEN floor(value * 100 + 0.5)
                         ELSE -floor(-value * 100 + 0.5) END) AS BIGINT)
             AS value_cents,
           CAST(max(user_id) AS BIGINT) AS max_user_id
    FROM events WHERE user_id % 13 = 0
    """,
)
def stream_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING OBSERVED METRICS — ``df.observe`` on a STREAM: the
    in-flight metrics channel (row counts, exact cent totals) rides the
    micro-batch execution itself and surfaces per batch in
    ``StreamingQueryProgress.observedMetrics`` — zero extra passes, the
    streaming twin of the batch ``quality_observe_metrics`` entry. The
    DRIVER-HASHED OUTPUT IS BUILT FROM THE METRICS: per-batch observed
    (count, cents) are summed driver-side — integer addition, so
    micro-batch slicing cannot perturb the total — and returned as one
    row that must hash-match the batch oracle over the same filter. A
    cross-check against the drained sink count is asserted in-entry
    (metrics that disagree with the sink are a driver red, not a silent
    skew). n_batches_min: the oracle's DISTINCT-user floor ensures the
    metric column count is pinned too (observed metrics arrive only for
    batches that carried rows)."""
    cents = F.when(
        F.col("value") >= 0, F.floor(F.col("value") * 100 + 0.5)
    ).otherwise(-F.floor(-F.col("value") * 100 + 0.5))
    stream = _replayed_stream(spark, sf_dir).filter(F.col("user_id") % 13 == 0)
    observed = stream.observe(
        "inflight",
        F.count(F.lit(1)).alias("n"),
        F.sum(cents.cast("long")).alias("cents"),
        F.max("user_id").alias("max_uid"),
    )
    # drain() raises if the progress ring dropped a trigger, so the metrics
    # summed below cover every micro-batch.
    drained, progress = drain(observed)
    n_total, cents_total, uid_max = 0, 0, None
    for pr in progress:
        m = (pr.observedMetrics or {}).get("inflight")
        if m is None:
            continue
        n_total += int(m["n"])
        cents_total += int(m["cents"])
        uid_max = (
            int(m["max_uid"])
            if uid_max is None
            else max(uid_max, int(m["max_uid"]))
        )
    sink_rows = drained.count()
    if sink_rows != n_total:
        raise RuntimeError(
            f"observed row metric {n_total} != drained sink count "
            f"{sink_rows} — in-flight metrics diverged from the data path"
        )
    return spark.createDataFrame(
        [(n_total, cents_total, uid_max)],
        "n_events long, value_cents long, max_user_id long",
    )


@register(
    "stream_stream_left_semi",
    oracle="""
    SELECT l.event_id AS click_id, l.user_id AS user_id
    FROM (SELECT * FROM events
          WHERE event_type = 'click' AND user_id % 2 = 0) l
    WHERE EXISTS (
      SELECT 1 FROM events r
      WHERE r.event_type = 'purchase' AND r.user_id = l.user_id
        AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 6 HOUR)
    """,
)
def stream_stream_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT SEMI interval join — the existence form of the
    attribution topology ("which clicks converted", without duplicating a
    click per purchase): a left row emits ONCE on its first match and
    never again, and an unmatched left row is silently evicted when the
    watermark proves no match can arrive — so like the outer forms it
    REQUIRES watermarks (state eviction is what implements the
    no-duplicate contract). Time-ordered replay with far-future sentinels
    on BOTH inputs flushes all state; the drained result must equal the
    batch EXISTS — the oracle, which never sees the sentinels. Completes
    the stream-stream family: inner (`stream_stream_join_attrib`), left
    outer, full outer, and now semi."""

    d = _fresh_ordered_replay(spark, sf_dir, 4, "ss_semi_")
    base = spark.read.parquet(d)
    sentinel_user = 4 * 10**9
    sentinel_events(
        base, sentinel_user, types=[(-1, "click"), (-2, "purchase")]
    ).coalesce(1).write.mode("append").parquet(d)

    # r13: 3 files/trigger — 2 data batches instead of 3 (see
    # stream_stream_left_outer; output set is batching-invariant).
    stream = read_events_stream(spark, d, max_files_per_trigger=3).filter(
        F.col("user_id") % 2 == 0
    )
    clicks = stream.filter(F.col("event_type") == "click")
    buys = stream.filter(F.col("event_type") == "purchase")
    joined = stream_stream_interval_join(
        clicks,
        buys,
        "user_id",
        "6 hours",
        left_watermark="1 hour",
        right_watermark="1 hour",
        how="left_semi",
    ).select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("user_id"),
    )
    return drain(joined).table.filter(F.col("user_id") != sentinel_user)


@register(
    "stream_stream_right_outer",
    oracle="""
    SELECT l.event_id AS click_id, r.event_id AS buy_id,
           r.user_id AS user_id
    FROM (SELECT * FROM events WHERE event_type = 'click'
            AND user_id % 3 = 1) l
    RIGHT JOIN (SELECT * FROM events WHERE event_type = 'purchase'
                  AND user_id % 3 = 1) r
      ON l.user_id = r.user_id
     AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 6 HOUR
    """,
)
def stream_stream_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream RIGHT OUTER interval join — the last missing
    orientation in the stream-stream family (inner:
    `stream_stream_join_attrib`; left/full outer; left semi): a purchase
    with no click in the preceding 6 h emits null-padded ONCE the
    min-across-inputs watermark proves no click can still arrive.
    Right-outer matters distinctly from left-outer here because the
    interval condition is ASYMMETRIC (r.ts ∈ [l.ts, l.ts+6h]): the
    right side's eviction threshold is the tight one (a right row is
    dead once the watermark passes r.ts), so right-outer is the
    cheapest outer orientation in state — worth demonstrating, not just
    mirroring. Far-future sentinels on BOTH inputs flush the state; the
    batch right-outer interval join over the sentinel-free frame is the
    oracle."""

    d = _fresh_ordered_replay(spark, sf_dir, 4, "ss_router_")
    base = spark.read.parquet(d)
    sentinel_user = 3 * 10**9 + 1
    sentinel_events(
        base, sentinel_user, types=[(-1, "click"), (-2, "purchase")]
    ).coalesce(1).write.mode("append").parquet(d)

    # r13: 3 files/trigger — 2 data batches instead of 3 (see
    # stream_stream_left_outer; output set is batching-invariant).
    stream = read_events_stream(spark, d, max_files_per_trigger=3).filter(
        F.col("user_id") % 3 == 1
    )
    clicks = stream.filter(F.col("event_type") == "click")
    buys = stream.filter(F.col("event_type") == "purchase")
    joined = stream_stream_interval_join(
        clicks,
        buys,
        "user_id",
        "6 hours",
        left_watermark="1 hour",
        right_watermark="1 hour",
        how="right_outer",
    ).select(
        F.col("l.event_id").alias("click_id"),
        F.col("r.event_id").alias("buy_id"),
        F.col("r.user_id").alias("user_id"),
    )
    return drain(joined).table.filter(F.col("user_id") != sentinel_user)


@register(
    "stream_windowed_distinct_users",
    oracle="""
    SELECT strftime(to_timestamp(CAST(floor(epoch(ts) / 86400) * 86400
                                      AS BIGINT)), '%Y-%m-%d') AS day,
           CAST(count(DISTINCT user_id) AS BIGINT) AS dau
    FROM events WHERE user_id % 2 = 0
    GROUP BY 1
    """,
)
def stream_windowed_distinct_users(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAMING DAU — exact count-distinct on a stream, the metric
    every ingest pipeline wants and the one windowed aggregation can't
    give directly (count(DISTINCT) is unsupported in streaming aggs):
    the composition is dropDuplicates on (user_id, day-window) — the
    dedup key keeps the EVENT-TIME WINDOW STRUCT itself (not a derived
    scalar, which would strip the event-time metadata and leave dedup
    state immortal — r10 ADVICE.md), so state evicts once the watermark
    passes each key's window end —
    CHAINED into a tumbling windowed count of the first-seen rows: two
    stateful operators in one topology (Spark 4 multiple-stateful-
    operators, which mandates APPEND mode — complete is rejected for
    chained state). A far-future sentinel advances the watermark so
    every real window finalizes; its own window is cut by the
    max-real-day filter. This is the streaming twin of the batch
    `events_sliding_distinct_users` (there: fan-out + dedup'd frame;
    here: dedup state + count), and exactly how 100 TB pipelines do
    exact DAU before falling back to HLL sketches
    (`agg_hll_sketch_union`) when per-window key cardinality outgrows
    state. The batch count(DISTINCT) per day is the oracle."""

    d = _fresh_ordered_replay(spark, sf_dir, 4, "ss_dau_")
    base = spark.read.parquet(d)
    max_day = base.agg(
        F.date_format(F.max("ts"), "yyyy-MM-dd").alias("d")
    ).collect()[0]["d"]
    sentinel_user = 2 * 10**9  # even: passes the entry's user filter
    sentinel_events(base, sentinel_user).coalesce(1).write.mode(
        "append"
    ).parquet(d)

    # r13: 3 files/trigger — 2 data batches instead of 3 (see
    # stream_stream_left_outer; the dedup+window chain's final counts are
    # batching-invariant).
    stream = read_events_stream(spark, d, max_files_per_trigger=3).filter(
        F.col("user_id") % 2 == 0
    )
    firsts = (
        stream.withWatermark("ts", "1 hour")
        .withColumn("win", F.window("ts", "1 day"))
        .dropDuplicates(["user_id", "win"])
    )
    counted = firsts.groupBy("win").agg(
        F.count("*").cast("long").alias("dau")
    )
    drained = drain(counted).table
    return (
        drained
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd").alias("day"),
            "dau",
        )
        .filter(F.col("day") <= max_day)
    )


@register(
    "stream_tws_map_state",
    oracle="""
    SELECT user_id, event_type, count(*) AS n,
           round(sum(value), 2) AS total
    FROM events WHERE user_id % 13 = 0
    GROUP BY user_id, event_type
    """,
)
def stream_tws_map_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transformWithStateInPandas with **MapState** — the third state
    handle demonstrated on the new API (ValueState:
    `stream_tws_stateful_totals`; event-time timers:
    `stream_tws_session_timers`; now the keyed sub-map): per-user
    per-event-type running totals where each micro-batch point-updates
    ONLY the types it saw under the user's single grouping key — the
    shape that keeps a per-dimension profile store from multiplying the
    grouping-key space by the dimension domain
    (``streaming.ops.tws_per_type_totals``). Exact integer cents in
    state; each (user, type)'s FINAL emission (highest monotonically-
    growing n, window-ranked) must equal the batch aggregate. RocksDB
    provider scoped set/restore as the API requires."""
    from pyspark.sql.window import Window

    from irio_mapreduce_spark.streaming.ops import tws_per_type_totals
    from irio_mapreduce_spark.streaming.protobuf_vendor import (
        ensure_protobuf,
    )

    if not ensure_protobuf(spark):
        raise RuntimeError(
            "no protobuf runtime available to vendor — "
            "transformWithStateInPandas cannot run in this environment"
        )
    stream = _replayed_stream(spark, sf_dir).filter(
        F.col("user_id") % 13 == 0
    )
    with scoped_conf(spark, _ROCKSDB):
        drained = drain(tws_per_type_totals(stream), output_mode="update").table
    w = Window.partitionBy("user_id", "event_type").orderBy(F.desc("n"))
    return (
        drained
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select(
            "user_id",
            "event_type",
            "n",
            F.round("total", 2).alias("total"),
        )
    )


@register(
    "stream_tws_list_state",
    oracle="""
    WITH f AS (SELECT * FROM events WHERE user_id % 17 = 0),
    tot AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n
            FROM f GROUP BY user_id),
    ranked AS (
      SELECT user_id, event_id,
             CAST(floor(abs(value) * 100 + 0.5) AS BIGINT)
               * (CASE WHEN value >= 0 THEN 1 ELSE -1 END) AS cents,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM f),
    top AS (SELECT user_id,
                   CAST(sum(cents) AS BIGINT) AS recent_cents,
                   CAST(sum(event_id) AS BIGINT) AS recent_ids
            FROM ranked WHERE rn <= 3 GROUP BY user_id)
    SELECT user_id, n, recent_cents, recent_ids
    FROM tot JOIN top USING (user_id)
    """,
)
def stream_tws_list_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transformWithStateInPandas with **ListState** — completes the
    state-handle surface (ValueState: `stream_tws_stateful_totals`;
    event-time timers: `stream_tws_session_timers`; MapState:
    `stream_tws_map_state`; now the bounded ordered list): each user's
    THREE most-recent events by EVENT time, maintained against a
    deliberately out-of-time-order replay, so the list is merged and
    re-trimmed (``get()``/``put()``) on every touch — the 'last-N
    interactions' feature store whose state is O(k) per user at any
    stream length (``streaming.ops.tws_topk_recent``). Timestamps are
    pre-projected to epoch micros so the worker never parses time. The
    final emission per user (max monotone n, window-ranked like the
    MapState twin) must equal the batch top-3-by-recency aggregate.
    RocksDB provider scoped set/restore as the API requires."""
    from pyspark.sql.window import Window

    from irio_mapreduce_spark.streaming.ops import tws_topk_recent
    from irio_mapreduce_spark.streaming.protobuf_vendor import (
        ensure_protobuf,
    )

    if not ensure_protobuf(spark):
        raise RuntimeError(
            "no protobuf runtime available to vendor — "
            "transformWithStateInPandas cannot run in this environment"
        )
    stream = (
        _replayed_stream(spark, sf_dir)
        .filter(F.col("user_id") % 17 == 0)
        .select(
            "user_id",
            F.unix_micros("ts").alias("ts_us"),
            "event_id",
            "value",
        )
    )
    with scoped_conf(spark, _ROCKSDB):
        drained = drain(tws_topk_recent(stream), output_mode="update").table
    w = Window.partitionBy("user_id").orderBy(F.desc("n"))
    return (
        drained
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select("user_id", "n", "recent_cents", "recent_ids")
    )


@register(
    "stream_checkpoint_kill_resume",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS cents,
           CAST(sum(event_id) AS BIGINT) AS id_sum
    FROM events WHERE event_id % 3 = 0
    GROUP BY event_type
    """,
)
def stream_checkpoint_kill_resume(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CHECKPOINT KILL-AND-RESUME, exactly-once — the streaming twin of
    the reference's retry / first-wins commit surface
    (TaskManagerImpl.java:42-43,333-351; DistrStorage.java:213-233),
    which tests/test_chaos.py pins for batch (r10 verdict task #7): the
    SAME logical query runs as THREE SEPARATE query incarnations against
    ONE checkpoint + ONE parquet sink, each incarnation draining one new
    file then terminating with more data still to come — a stop between
    triggers. Each later file deliberately RE-SENDS the previous file's
    rows, so the final sink is correct only if BOTH restart guarantees
    hold: (1) the dropDuplicates STATE recovered from the checkpoint
    drops the cross-incarnation duplicates (lost state → doubled rows),
    and (2) the file-source offset log + parquet sink metadata commit
    log never re-admit an already-committed batch (reprocessing →
    doubled rows). Either failure flips the driver hash — the oracle is
    the plain batch DISTINCT aggregate.

    At 100 TB this is THE operational contract that makes streaming
    ingest restartable after executor loss, code deploys, or spot
    reclaim without a backfill: state, offsets, and sink commits all
    fence through the checkpoint. Unwatermarked dedup state is the
    right shape for a finite replay; the eviction-bearing variant is
    `stream_dedup_within_watermark` / `stream_windowed_distinct_users`."""
    return _resumed_dedup(spark, sf_dir, 3, 3, "stream_ckpt_")[0]


def _resumed_dedup(
    spark: SparkSession,
    sf_dir: str,
    modulus: int,
    incarnations: int,
    prefix: str,
) -> tuple[DataFrame, list[list], str]:
    """Shared body of the kill-and-resume entries. The ``events`` rows with
    ``event_id % modulus == 0`` are cut into ``incarnations`` chunks, each
    later chunk RE-SENDING the previous chunk's rows; chunk ``i`` is moved
    into a live directory and drained by incarnation ``i``, a NEW query
    resumed on the one shared checkpoint, into one parquet sink, behind a
    key-only dedup. Returns the per-type rollup of the sink, each
    incarnation's per-trigger progress, and the checkpoint directory."""
    import glob as _glob
    import os
    import shutil

    from irio_mapreduce_spark.io import read_table
    from irio_mapreduce_spark.streaming.ops import _write_replay_sequenced

    base = (
        read_table(spark, sf_dir, "events")
        .filter(F.col("event_id") % modulus == 0)
        .select("event_id", "ts", "event_type", "value")
    )
    g = F.expr(f"(event_id div {modulus}) % {incarnations}").cast("int")
    chunked = base.withColumn("_chunk", g).unionAll(
        # chunk i+1 re-sends chunk i's rows — the duplicates only a
        # RECOVERED dedup state can drop
        base.withColumn("_chunk", g + 1).filter(F.col("_chunk") <= incarnations - 1)
    )
    run_dir = tempfile.mkdtemp(prefix=prefix)
    staging = os.path.join(run_dir, "staging")
    _write_replay_sequenced(chunked, "_chunk", incarnations, staging)
    live = os.path.join(run_dir, "live")
    sink = os.path.join(run_dir, "sink")
    ck = os.path.join(run_dir, "ck")
    os.makedirs(live, exist_ok=True)
    schema = spark.read.parquet(staging).schema
    progress = []
    for i in range(incarnations):
        # one new file appears, then a NEW query incarnation resumes from
        # the shared checkpoint and drains it
        for f in sorted(_glob.glob(os.path.join(staging, f"chunk{i:03d}_*"))):
            shutil.move(f, os.path.join(live, os.path.basename(f)))
        stream = spark.readStream.schema(schema).parquet(live)
        progress.append(
            drain(
                stream.dropDuplicates(["event_id"]),
                "parquet",
                path=sink,
                checkpoint=ck,
            ).progress
        )
    rollup = (
        spark.read.parquet(sink)
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long"))
            .cast("long")
            .alias("cents"),
            F.sum("event_id").cast("long").alias("id_sum"),
        )
    )
    return rollup, progress, ck


@register(
    "stream_foreachbatch_dual_sink",
    oracle="""
    WITH f AS (SELECT event_type,
                      CAST(floor(abs(value) * 100 + 0.5) AS BIGINT)
                        * (CASE WHEN value >= 0 THEN 1 ELSE -1 END) AS cents
               FROM events WHERE event_id % 7 = 0),
    agg AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(cents) AS BIGINT) AS cents
            FROM f GROUP BY event_type)
    SELECT event_type, n AS n_main, cents AS cents_main,
           n AS n_audit, cents AS cents_audit
    FROM agg
    """,
)
def stream_foreachbatch_dual_sink(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """foreachBatch EPOCH-CONSISTENT FAN-OUT to two stores — the
    operational pattern behind 'write the table AND the audit ledger':
    the sink-side transaction log only covers ONE sink, so multi-sink
    exactly-once must be built from batchId-keyed idempotent writes —
    each micro-batch overwrites generation ``seg=b<id>`` in BOTH stores
    (raw rows in the main store, a per-type rollup in the audit store),
    so a replayed batch converges instead of double-counting, the same
    first-wins contract as the kmeans/dedup model handlers. The entry's
    output puts the two stores SIDE BY SIDE per event type (full join,
    zero-filled); the oracle asserts both equal the batch truth — a
    divergence (half-applied batch, double-applied replay) flips the
    hash. Per-batch cost: one pass over the micro-batch + a
    domain-bounded rollup; generations partition-prune on seg."""
    import glob as _glob
    import os

    from irio_mapreduce_spark.io import read_table
    from irio_mapreduce_spark.streaming.ops import _write_replay_sequenced

    base = (
        read_table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 7 == 0)
        .select(
            "event_id",
            "event_type",
            (
                F.floor(F.abs(F.col("value")) * 100 + 0.5).cast("long")
                * F.when(F.col("value") >= 0, 1).otherwise(-1)
            ).alias("cents"),
        )
    )
    run_dir = tempfile.mkdtemp(prefix="stream_dual_")
    replay = os.path.join(run_dir, "replay")
    _write_replay_sequenced(
        base.withColumn("_chunk", (F.col("event_id") % 3).cast("int")),
        "_chunk",
        3,
        replay,
    )
    main_dir = os.path.join(run_dir, "main")
    audit_dir = os.path.join(run_dir, "audit")

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        b = batch_df.persist()
        try:
            b.write.mode("overwrite").parquet(
                os.path.join(main_dir, f"b{batch_id}")
            )
            (
                b.groupBy("event_type")
                .agg(
                    F.count("*").cast("long").alias("n"),
                    F.sum("cents").cast("long").alias("cents"),
                )
                .write.mode("overwrite")
                .parquet(os.path.join(audit_dir, f"b{batch_id}"))
            )
        finally:
            b.unpersist()

    stream = (
        spark.readStream.schema("event_id long, event_type string, cents long")
        .option("maxFilesPerTrigger", 1)
        .parquet(replay)
    )
    drain(stream, handle, checkpoint=os.path.join(run_dir, "ck"))
    main = (
        spark.read.parquet(*_glob.glob(os.path.join(main_dir, "b*")))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_main"),
            F.sum("cents").cast("long").alias("cents_main"),
        )
    )
    audit = (
        spark.read.parquet(*_glob.glob(os.path.join(audit_dir, "b*")))
        .groupBy("event_type")
        .agg(
            F.sum("n").cast("long").alias("n_audit"),
            F.sum("cents").cast("long").alias("cents_audit"),
        )
    )
    return main.join(audit, "event_type", "full").select(
        "event_type", "n_main", "cents_main", "n_audit", "cents_audit"
    )


@register(
    "stream_rocksdb_changelog_resume",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS cents,
           CAST(sum(event_id) AS BIGINT) AS id_sum
    FROM events WHERE event_id % 5 = 0
    GROUP BY event_type
    """,
)
def stream_rocksdb_changelog_resume(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ROCKSDB CHANGELOG CHECKPOINTING under kill-and-resume (r11 verdict
    task #4): the recovery path that matters at 100 TB state. With
    ``stateStore.rocksdb.changelogCheckpointing.enabled=true`` each
    micro-batch commit uploads a per-version CHANGELOG (the delta of
    state puts/deletes) instead of a full SST snapshot, so commit cost
    is O(batch's state churn), not O(total state) — the difference
    between constant-time and ever-growing trigger commits as keyed
    state accumulates. Recovery replays snapshot + changelog chain; this
    entry certifies that chain end-to-end by composing the
    ``stream_checkpoint_kill_resume`` topology (2 query INCARNATIONS over
    one checkpoint — r13, guide §2.6: the minimum that still exercises a
    resume; the second chunk re-sends the first chunk's rows, so only a
    correctly-rebuilt dedup state — snapshot + changelog replay in
    incarnation 2 — drops the cross-incarnation duplicates; the r12
    3-incarnation form spent ~1/3 of its 9.7 s driver-bench cost on the
    third stream start/drain without certifying anything the second
    resume had not; tests/test_streaming.py keeps the 3-incarnation
    chain) with the RocksDB provider: a broken changelog
    replay (lost state → doubled rows) or a re-admitted batch flips the
    driver hash. The entry raises unless ``*.changelog`` files actually
    landed in the state checkpoint — a silently-ignored conf is a red,
    the same artifact discipline as ``stream_rocksdb_state_totals``
    (SSTs), and deterministic: with the provider engaged, every commit
    under changelog mode writes one. Oracle: the plain batch aggregate
    (event_id is unique, so the recovered dedup restores exactly the
    base rows — chunk-count-invariant)."""
    import glob as _glob
    import os

    with scoped_conf(spark, _ROCKSDB_CHANGELOG):
        out, _, ck = _resumed_dedup(spark, sf_dir, 5, 2, "stream_rocks_changelog_")
    changelogs = _glob.glob(
        os.path.join(ck, "state", "**", "*.changelog"), recursive=True
    )
    if not changelogs:
        raise RuntimeError(
            "changelog checkpointing enabled but no *.changelog files in "
            "the state checkpoint"
        )
    return out
