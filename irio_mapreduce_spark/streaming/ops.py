"""Streaming operators: source/sink plumbing + the windowed/stateful
transform set. All transforms are batch/stream-polymorphic (unified
Dataset model) — the streaming guarantees come from how they're run
(watermark + output mode + trigger), not from different logic.

How a query is run is one policy, :func:`drain`, the only code in the
package that starts a streaming query:

* **availableNow.** The trigger processes the backlog present at start in
  ``maxFilesPerTrigger``-sized micro-batches, then stops: a finite,
  deterministic run to completion, the engine's Batch.
* **2 state partitions.** Stateful streaming cost scales with
  ``spark.sql.shuffle.partitions``: one state store per partition per
  stateful operator PER TRIGGER. On the stream-stream entry at sf0.1 a drain
  took 23.4 s at 200 partitions (Spark's default) and 5.8 s at 32 in an
  earlier probe. Over the 33 drained catalog entries at sf0.1 (4 cores, warm
  medians of 3) the summed time fell from 83.0 s at 8 to 68.4 s at 2, and 30
  entries were faster or within 5%, JVM state and Python state alike
  (``stream_stream_left_semi`` 3.14 -> 2.06 s,
  ``stream_tws_stateful_totals`` 4.26 -> 2.93 s). Three whose per-partition
  work runs in Python workers or a foreachBatch body lost parallelism and
  were slower: ``stream_kmeans_model_rounds`` 3.12 -> 3.79 s,
  ``source_pystream_writer_wordcount`` 3.60 -> 4.19 s and
  ``stream_tws_map_state`` 5.31 -> 5.92 s. State partitioning is sized to
  state volume, not CPU parallelism, and this engine's state is small, so
  every drain runs at :data:`STATE_PARTITIONS` whatever the host's core
  count; foreachBatch bodies run on the query's session and so at the same
  count.
* **Checkpoint files are committed through the FileSystem API (local-mode
  policy).** Spark's default ``FileContextBasedCheckpointFileManager``
  commits every offset, commit, source-log and state-delta file (and its
  ``.crc``) by create-then-rename, and without ``libhadoop`` Hadoop's local
  filesystem forks a ``chmod`` per create and, through ``FileContext``, a
  ``readlink`` per rename side: about a quarter of a warm dedup drain's CPU
  went to those forked processes. :data:`CHECKPOINT_FILE_MANAGER` renames
  through ``FileSystem``, which reads no link: a warm sf0.001 dedup drain
  forks 44 processes instead of 180, all of them the ``chmod`` that Hadoop's
  local ``create`` still forks per file. Its rename is check-then-rename,
  not atomic, so a checkpoint must have one writer at a time, which every
  drain here has. On a shared cluster filesystem where two query
  incarnations could race on one checkpoint, use a store with an atomic
  rename (HDFS, or the default manager) instead.
* **Confs are read at query start.** The query clones the session's conf
  when it starts (a resumed checkpoint keeps the partition count its
  offset log recorded), so ``drain`` scopes its conf, and a caller scopes
  its own (a state-store provider, say) around the ``drain`` call, with
  ``session.scoped_conf``; the session is unchanged afterwards.
* **Progress retention is checked.** ``drain`` returns the query's
  ``recentProgress``, one entry per trigger, read once after termination
  (no listener, which would need the py4j callback server). That list is
  a ring bounded by ``spark.sql.streaming.numRecentProgressUpdates``; when
  the first retained ``batchId`` is later than the first batch the run
  executed, triggers were dropped and :class:`ProgressEvicted` is raised
  rather than returning partial per-trigger data. The first batch of a
  run on a resumed checkpoint is one past its last commit, not 0.

Each drain appends a compact record (triggers, input rows, ``addBatch``
and ``queryPlanning`` ms) to :data:`DRAIN_LOG`, which ``bench.py`` reads
per entry.
"""

from __future__ import annotations

import os
import uuid
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.listener import StreamingQueryProgress

from irio_mapreduce_spark.io import read_table
from irio_mapreduce_spark.session import scoped_conf

# ---------------------------------------------------------------------------
# Source / sink
# ---------------------------------------------------------------------------


def _write_replay_sequenced(df: DataFrame, chunk_col: str, n_chunks: int, out_dir: str) -> None:
    """Write ``df`` as one parquet file per ``chunk_col`` value, with file
    MODIFICATION TIMES ascending in chunk order — the property the file
    stream source actually replays by. One Spark job (repartition by chunk
    + partitionBy write) instead of n sequential write jobs: per-job fixed
    overhead dominates these tiny harness writes (measured ~1 s/job, so
    the old loop cost ~n seconds of pure scheduling); the replay ORDER is
    then established driver-side by ``os.utime``, which is free."""
    import glob
    import shutil
    import time as _time

    stage = out_dir.rstrip("/") + "__stage"
    try:
        (
            df.repartition(n_chunks, F.col(chunk_col))
            .write.partitionBy(chunk_col)
            .mode("overwrite")
            .parquet(stage)
        )
        # Overwrite semantics, like the sequential writer this replaced:
        # stale files from a prior replay in the same dir would otherwise
        # merge into this one and be replayed as duplicate events.
        if os.path.isdir(out_dir):
            shutil.rmtree(out_dir)
        os.makedirs(out_dir, exist_ok=True)
        base = _time.time() - 2.0 * (n_chunks + 2)
        for i in range(n_chunks):
            parts = sorted(glob.glob(f"{stage}/{chunk_col}={i}/part-*.parquet"))
            for j, f in enumerate(parts):
                dst = os.path.join(out_dir, f"chunk{i:03d}_{j}.parquet")
                shutil.move(f, dst)
                os.utime(dst, (base + 2.0 * i, base + 2.0 * i))
    finally:
        shutil.rmtree(stage, ignore_errors=True)


def replay_chunks(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    n_chunks: int = 4,
    table: str = "events",
    id_col: str = "event_id",
) -> str:
    """Materialize a static table as ``n_chunks`` parquet files under
    ``out_dir`` — a deterministic replayable file-stream source. Chunking
    is by ``id_col % n_chunks`` (stable, not time-ordered, so replay
    exercises out-of-order arrival like a real stream). Defaults replay
    ``events``; any table with a stable integer id works (the streaming
    curation test replays ``documents``)."""
    ev = read_table(spark, sf_dir, table)
    chunked = ev.withColumn("_chunk", (F.col(id_col) % n_chunks).cast("int"))
    _write_replay_sequenced(chunked, "_chunk", n_chunks, out_dir)
    return out_dir


def replay_time_ordered(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    n_chunks: int = 4,
    sentinel_user: int | None = None,
) -> str:
    """Materialize ``events`` as ``n_chunks`` parquet files in EVENT-TIME
    ORDER (range-chunked on ts, written sequentially so the file source's
    modification-time ordering replays them in time order). This is the
    harness for watermark semantics: cross-chunk disorder is zero, so a
    watermark only holds back the tail. ``sentinel_user``: append a final
    far-future event for that user id, advancing the watermark past every
    real window/session so append-mode output is complete."""
    ev = read_table(spark, sf_dir, "events")
    # approxQuantile rejects timestamps -> quantile the epoch seconds.
    # NTZ timestamps (µs parquet, isAdjustedToUTC=false) don't cast straight
    # to double; go via TIMESTAMP first. Only used for ordering/chunking, so
    # the session-tz interpretation is self-consistent whatever the tz.
    with_e = ev.withColumn("_e", F.col("ts").cast("timestamp").cast("double"))
    bounds = with_e.approxQuantile(
        "_e", [i / n_chunks for i in range(1, n_chunks)], 0.001
    )
    # Range-bucket on the quantile bounds, then one sequenced write job.
    chunk = F.lit(n_chunks - 1).cast("int")
    for i in range(n_chunks - 2, -1, -1):
        chunk = F.when(F.col("_e") <= bounds[i], F.lit(i)).otherwise(chunk)
    chunked = with_e.withColumn("_chunk", chunk.cast("int")).drop("_e")
    _write_replay_sequenced(chunked, "_chunk", n_chunks, out_dir)
    if sentinel_user is not None:
        # Single-row append; the fresh file's natural mtime lands after all
        # sequenced chunk mtimes (they are back-dated), keeping it last.
        sentinel_events(ev, sentinel_user).coalesce(1).write.mode(
            "append"
        ).parquet(out_dir)
    return out_dir


def sentinel_events(
    base: DataFrame,
    sentinel_user: int,
    types: list[tuple[int, str]] | None = None,
) -> DataFrame:
    """Far-future sentinel rows in the events schema: 30 days past the
    base frame's max ``ts``, negative event ids, zero value. One row per
    ``(event_id, event_type)`` in ``types`` (default: a single
    ``'sentinel'`` row). The watermark-flush trick every append-mode
    streaming entry relies on — factored here so the events schema lives
    in ONE place (four call sites had hand-rolled copies; a schema change
    would have had to be mirrored in each)."""
    if types is None:
        types = [(-1, "sentinel")]
    far = base.agg((F.max("ts") + F.expr("INTERVAL 30 DAYS")).alias("ts"))
    stack_args = ", ".join(f"{eid}L, '{etype}'" for eid, etype in types)
    return far.selectExpr(
        f"stack({len(types)}, {stack_args}) AS (event_id, event_type)",
        "ts",
    ).select(
        "event_id",
        "ts",
        F.lit(sentinel_user).cast("long").alias("user_id"),
        "event_type",
        F.lit(0.0).alias("value"),
        F.lit(None).cast("string").alias("props"),
    )


def read_events_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-stream source over a directory of event parquet files. Schema is
    taken from the files (one footer read) — streaming sources require an
    explicit schema; inference-per-microbatch would be both slow and
    drift-prone."""
    schema = spark.read.parquet(path).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


# State partitions and checkpoint-file manager of every drain; the module
# docstring gives the measured reasons (state volume, not cores; no forked
# ``readlink`` per checkpoint-file rename).
STATE_PARTITIONS = 2
CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)

# One record per drained query, appended by drain(); bench.py reports the
# records each catalog entry added.
DRAIN_LOG: list[dict[str, int]] = []


class ProgressEvicted(RuntimeError):
    """The query ran more triggers than its progress ring retained."""


class Drained(NamedTuple):
    table: DataFrame | None  # the drained rows, for a memory sink
    progress: list[StreamingQueryProgress]  # one entry per trigger


def _first_batch_id(checkpoint: str | None) -> int:
    """The batchId a query started on ``checkpoint`` runs first: one past
    the last batch in its commit log, 0 for a fresh checkpoint."""
    commits = os.path.join(checkpoint or "", "commits")
    if not checkpoint or not os.path.isdir(commits):
        return 0
    return max((int(f) + 1 for f in os.listdir(commits) if f.isdigit()), default=0)


def drain(
    df: DataFrame,
    sink: str | Callable[[DataFrame, int], None] = "memory",
    *,
    output_mode: str = "append",
    path: str | None = None,
    checkpoint: str | None = None,
) -> Drained:
    """Run the streaming ``df`` to completion under the module's drain
    policy and return its per-trigger progress.

    ``sink`` is a sink format (``"memory"``, ``"noop"``, a file format
    written under ``path``) or a foreachBatch function. For ``"memory"``
    the drained rows come back as ``Drained.table``. ``checkpoint`` names
    the checkpoint directory; a query resumed on it continues from its
    last committed batch."""
    spark = df.sparkSession
    writer = df.writeStream.outputMode(output_mode)
    name = None
    if callable(sink):
        writer = writer.foreachBatch(sink)
    else:
        writer = writer.format(sink)
        if sink == "memory":
            name = f"t_drain_{uuid.uuid4().hex[:8]}"
            writer = writer.queryName(name)
        if path is not None:
            writer = writer.option("path", path)
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    first = _first_batch_id(checkpoint)
    with scoped_conf(
        spark,
        {
            "spark.sql.shuffle.partitions": str(STATE_PARTITIONS),
            "spark.sql.streaming.checkpointFileManagerClass": CHECKPOINT_FILE_MANAGER,
        },
    ):
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
    progress = q.recentProgress
    if progress and progress[0].batchId > first:
        raise ProgressEvicted(
            f"query progress starts at batchId {progress[0].batchId}, but "
            f"the run began at {first}: triggers were evicted past "
            "spark.sql.streaming.numRecentProgressUpdates"
        )
    DRAIN_LOG.append(
        {
            "triggers": len(progress),
            "input_rows": sum(p.numInputRows for p in progress),
            "add_batch_ms": sum(p.durationMs.get("addBatch", 0) for p in progress),
            "query_planning_ms": sum(
                p.durationMs.get("queryPlanning", 0) for p in progress
            ),
        }
    )
    return Drained(spark.table(name) if name else None, progress)


# ---------------------------------------------------------------------------
# Windowed aggregations (shapes mirror queries/events_q.py batch entries)
# ---------------------------------------------------------------------------


def tumbling_value_rollup(
    events: DataFrame, width: str = "1 day", watermark: str | None = None
) -> DataFrame:
    """Tumbling-window count/sum per event type. With a watermark, append
    mode emits each window once, when the watermark passes its end."""
    ev = events.withWatermark("ts", watermark) if watermark else events
    return (
        ev.groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("w.start").alias("win_start"), "event_type", "n", "total_value")
    )


def sliding_value_rollup(
    events: DataFrame,
    width: str = "2 days",
    slide: str = "1 day",
    watermark: str | None = None,
) -> DataFrame:
    """Sliding-window totals (every event contributes to width/slide
    windows)."""
    ev = events.withWatermark("ts", watermark) if watermark else events
    return (
        ev.groupBy(F.window("ts", width, slide).alias("w"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("w.start").alias("win_start"), "n", "total_value")
    )


def session_rollup(
    events: DataFrame, gap: str = "30 minutes", watermark: str | None = None
) -> DataFrame:
    """Session windows per user (gap-merged). Streaming session windows
    REQUIRE a watermark — session state must be closable; tests pass one
    when running this on a stream."""
    ev = events.withWatermark("ts", watermark) if watermark else events
    return (
        ev.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
            F.min("ts").alias("session_start"),
        )
        .select("user_id", "session_start", "n_events", "total_value")
    )


# ---------------------------------------------------------------------------
# Stateful dedup + stream-static join
# ---------------------------------------------------------------------------


def dedup_events(
    events: DataFrame, keys: list[str], watermark: str | None = None
) -> DataFrame:
    """Stateful exactly-once-per-key dedup, KEY-ONLY in both modes.

    Without a watermark the state is unbounded ``dropDuplicates(keys)``.
    With one, ``dropDuplicatesWithinWatermark(keys)`` keeps the same
    key-only semantics with bounded state: a key's state lives for the
    watermark delay, so duplicates arriving within that horizon are
    suppressed and later ones are not — the documented trade-off; size the
    watermark to the real duplicate-arrival window. (Plain
    ``dropDuplicates([ts, *keys])`` would NOT be a substitute: adding the
    event time to the key silently stops suppressing same-key events with
    different timestamps.)"""
    if watermark:
        return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
            keys
        )
    return events.dropDuplicates(keys)


def stateful_user_totals(events: DataFrame, timeout: str = "NoTimeout") -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running (total value, event count), emitted every micro-batch the user
    appears in (update mode). The state is an arbitrary user-defined
    struct — the escape hatch for operators the built-in windows can't
    express (counters, ML feature state, custom sessionization).

    State size = one row per user; on a stream a timeout
    (``ProcessingTimeTimeout``/``EventTimeTimeout``) is what bounds it —
    ``NoTimeout`` here because the test harness drains finite replays.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def fn(key, pdfs, state):
        total, n = state.get if state.exists else (0.0, 0)
        for pdf in pdfs:
            total += float(pdf["value"].sum())
            n += len(pdf)
        state.update((total, n))
        yield pd.DataFrame(
            {"user_id": [key[0]], "total": [round(total, 2)], "n": [n]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType="user_id long, total double, n long",
        stateStructType="total double, n long",
        outputMode="update",
        timeoutConf=getattr(GroupStateTimeout, timeout),
    )


def stateful_holt_linear(points: DataFrame) -> DataFrame:
    """STREAMING Holt linear-trend smoothing via ``applyInPandasWithState``
    — the incremental twin of the batch fixed-point fold
    (``queries/events_q.py:events_holt_linear_fixed_point``): per-user
    state carries (level, trend, n) across micro-batches and each batch
    advances it with the identical integer transition
    ``d = x - l - t; l += t + d div 4; t += (d div 4) div 8`` (dyadic
    α=1/4, β=1/8; l0 = first observation, t0 = 0). The packed-BIGINT
    trick the batch fold needs (one ``aggregate`` accumulator) is
    unnecessary here — the state struct holds the two components as
    separate longs, which is exactly why ``transformWithState``-class
    operators are the natural home for multi-component recursions.

    Exactness contract: ``div`` is Spark's truncate-toward-zero integer
    division (Java semantics), so the Python fold uses explicit
    truncating division — floor ``//`` would differ on negative
    deltas. Rows are folded in (t_us, event_id) order WITHIN each batch;
    cross-batch order is the caller's contract (feed a time-ordered
    replay / watermarked source), same stance as every recursive filter:
    sequential per key, parallel across keys.

    Input columns: user_id, cents, t_us, event_id. Emits the running
    (n_events, level, trend) per user per batch in update mode; the
    final emission (max n_events) equals the batch fold over the whole
    stream — driver-checked against the batch entry's oracle."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def tdiv(a: int, b: int) -> int:
        # Spark DIV truncates toward zero; Python // floors. b > 0 here.
        q = abs(a) // b
        return q if a >= 0 else -q

    def fn(key, pdfs, state):
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(["t_us", "event_id"])
        xs = [int(x) for x in rows["cents"]]
        if state.exists:
            lvl, trd, n = state.get
        else:
            lvl, trd, n = int(xs[0]), 0, 1
            xs = xs[1:]
        for x in xs:
            d = x - lvl - trd
            dd = tdiv(d, 4)
            lvl = lvl + trd + dd
            trd = trd + tdiv(dd, 8)
            n += 1
        state.update((lvl, trd, n))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "level_cents": [lvl],
                "trend_cents": [trd],
            }
        )

    return points.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=(
            "user_id long, n_events long, level_cents long, trend_cents long"
        ),
        stateStructType="lvl long, trd long, n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_static_enrich(
    events: DataFrame, dim: DataFrame, on: str, how: str = "inner"
) -> DataFrame:
    """Stream-static join: the static side is re-read per micro-batch and
    broadcast when small — no state, no watermark needed (static side is
    immutable within a batch). The classic enrichment topology."""
    return events.join(F.broadcast(dim), on, how)


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    interval: str = "24 hours",
    left_watermark: str | None = None,
    right_watermark: str | None = None,
    how: str = "inner",
) -> DataFrame:
    """Stream-stream INNER join: equality on ``key`` plus the event-time
    interval ``l.ts <= r.ts <= l.ts + interval`` (the attribution-join
    shape: which right-events happened within ``interval`` after a
    left-event). Works batch and streaming (unified Dataset model).

    On a stream, Spark buffers both sides in join state and emits a match
    the micro-batch both rows exist. The time-range condition is what makes
    the state PRUNABLE: with watermarks on both sides the engine derives
    per-side eviction thresholds (a left row is dead once the watermark
    passes ``l.ts + interval``, a right row once it passes ``r.ts``) —
    without them, inner-join state grows without bound. Watermarks are
    therefore mandatory at scale; the defaults keep them off because the
    correctness harness drains a FINITE out-of-order replay, where "never
    evict" is exactly what makes the drained result equal the batch join
    (eviction under replay-speed watermark advancement would race real
    matches). Size them to interval + max disorder in production — the
    equivalence test runs the watermarked form over a time-ordered replay.

    ``how``: Spark also supports outer stream-stream joins, where the
    null-padded side of an unmatched row can only emit once the watermark
    proves no match can still arrive — so outer joins REQUIRE watermarks,
    and the emission is watermark-driven (a no-data micro-batch after the
    last input advances it). The left-outer equivalence test drives this
    with far-future sentinel events on both inputs to flush all state.
    """
    l, r = left, right
    if left_watermark:
        l = l.withWatermark("ts", left_watermark)
    if right_watermark:
        r = r.withWatermark("ts", right_watermark)
    l, r = l.alias("l"), r.alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col("r.ts") >= F.col("l.ts"))
        & (F.col("r.ts") <= F.col("l.ts") + F.expr(f"INTERVAL {interval}"))
    )
    return l.join(r, cond, how)


def write_stream_parquet_exactly_once(
    df: DataFrame, out_dir: str, checkpoint_dir: str
) -> None:
    """``foreachBatch`` parquet sink with end-to-end exactly-once: each
    micro-batch lands in its own hive-style ``_batch_id=<n>`` partition
    directory with ``mode("overwrite")``, so a retried batch (failure
    between write and checkpoint commit) REPLACES its own partial output
    instead of appending a duplicate. Replayable source + checkpointed
    offsets + this idempotent write = exactly-once, the standard recipe
    when the built-in file sink's transaction log can't be used (e.g.
    writing to multiple destinations or doing merges per batch).

    ``foreachBatch`` is the general-purpose sink escape hatch: the closure
    receives an ordinary batch DataFrame per micro-batch, so any batch
    writer (JDBC upsert, delta merge, multi-sink fan-out) slots in; this
    parquet form is the one the tests drive. Reading ``out_dir`` recovers
    ``_batch_id`` as a partition column — drop it for the logical result.
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"_batch_id={batch_id}")
        )

    drain(df, write_batch, checkpoint=checkpoint_dir)


def stateful_change_intervals(events: DataFrame) -> DataFrame:
    """Streaming SCD2 / CDC compaction via ``applyInPandasWithState`` —
    the incremental twin of the batch change-interval reconstruction
    (``queries/events_q.py:events_type_change_intervals``): per-user
    state holds the OPEN interval (last event_type, its start, change
    ordinal); a micro-batch row with a different type CLOSES the open
    interval (emitted) and opens the next. Only closed intervals are
    emitted — the open one lives in state until a later change (or, in
    production, an EventTimeTimeout flush; the harness drains finite
    replays, so the batch twin's sentinel-open row is the state that
    was never emitted).

    Correctness contract: rows are sorted (ts, event_id) WITHIN each
    micro-batch, and change detection across batches rides the state —
    so the replay must be TIME-ORDERED across batches (the same
    requirement CDC log consumption has; out-of-order ingestion needs
    the watermarked sort-buffer pattern instead). State is one small
    tuple per user; timestamps cross the Arrow boundary as epoch-µs
    longs (exact integers — no tz/precision drift)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    cols = ["user_id", "event_type", "valid_from_us", "valid_to_us", "change_seq"]

    def fn(key, pdfs, state):
        if state.exists:
            last_type, open_from_us, seq = state.get
        else:
            last_type, open_from_us, seq = None, 0, 0
        out: list[tuple] = []
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts", "event_id"])
            ts_us = pdf["ts"].astype("int64") // 1000
            for t_us, et in zip(ts_us, pdf["event_type"]):
                if last_type is None:
                    last_type, open_from_us, seq = et, int(t_us), 1
                elif et != last_type:
                    out.append((key[0], last_type, open_from_us, int(t_us), seq))
                    last_type, open_from_us, seq = et, int(t_us), seq + 1
        state.update((last_type, int(open_from_us), int(seq)))
        yield pd.DataFrame(out, columns=cols)

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=(
            "user_id long, event_type string, valid_from_us long, "
            "valid_to_us long, change_seq long"
        ),
        stateStructType="last_type string, open_from_us long, seq long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def cdc_upsert_drain(
    events: DataFrame,
    target_dir: str,
    checkpoint_dir: str,
) -> None:
    """Streaming CDC UPSERT via ``foreachBatch`` + merge — the Delta-style
    "streaming merge into a table" pattern over plain parquet: each
    micro-batch is compacted to its latest record per user (row_number
    over (ts, event_id) desc — the unique tie-break), then merged into
    the standing target with recency semantics (a batch record wins only
    over an OLDER target record; micro-batches replay in order, so the
    final target is the latest record per user across the whole stream).

    The target lives in versioned directories (``v=<batch_id>`` written
    with overwrite, read side picks the highest committed version), which
    makes a retried batch idempotent: it rewrites ITS OWN version from
    the same (previous version + batch) inputs instead of double-merging
    — the same write-then-commit discipline as
    :func:`write_stream_parquet_exactly_once`, with the merge folded in.
    At production scale each version write is an ordinary partitioned
    parquet job and old versions are vacuumed; a lakehouse table format
    replaces the directory scheme, not the plan.
    """
    import os as _os

    from pyspark.sql import Window as _W

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        versions = _committed_versions(target_dir)
        prior = [v for v in versions if v < batch_id]
        if prior:
            tgt = s.read.parquet(_os.path.join(target_dir, f"v={prior[-1]}"))
            both = tgt.unionByName(batch_df)
        else:
            both = batch_df
        # ONE global argmax window over (prior target ∪ raw batch): a
        # separate pre-compaction of the batch ranks by the identical
        # window and is therefore pure redundant work — the single
        # ranking is the same result with one shuffle/sort fewer per
        # micro-batch.
        merged = (
            both.withColumn(
                "_rn",
                F.row_number().over(
                    _W.partitionBy("user_id").orderBy(
                        F.desc("ts"), F.desc("event_id")
                    )
                ),
            )
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        merged.write.mode("overwrite").parquet(
            _os.path.join(target_dir, f"v={batch_id}")
        )

    drain(events, merge_batch, checkpoint=checkpoint_dir)


def _committed_versions(target_dir: str) -> list[int]:
    """Sorted version numbers of COMMITTED ``v=<n>`` directories — only
    those containing Spark's ``_SUCCESS`` job-commit marker. A hard crash
    mid-overwrite leaves a torn directory with no marker; filtering here
    keeps both the per-batch prior-version lookup and the final read from
    ever treating a torn write as committed (the checkpoint replays that
    batch and rewrites its version on restart)."""
    import os as _os

    if not _os.path.isdir(target_dir):
        return []
    return sorted(
        int(d.split("=")[1])
        for d in _os.listdir(target_dir)
        if d.startswith("v=")
        and _os.path.exists(_os.path.join(target_dir, d, "_SUCCESS"))
    )


def read_cdc_target(spark, target_dir: str) -> DataFrame:
    """Read the highest committed version (``_SUCCESS``-marked — torn
    directories from a crash mid-overwrite are never selected) of a
    :func:`cdc_upsert_drain` target. Raises a descriptive error when the
    drain produced no micro-batches (empty stream) instead of a bare
    IndexError."""
    import os as _os

    versions = _committed_versions(target_dir)
    if not versions:
        raise ValueError(
            f"no committed CDC versions under {target_dir} — the stream "
            "produced zero micro-batches (empty source?)"
        )
    return spark.read.parquet(_os.path.join(target_dir, f"v={versions[-1]}"))


def tws_user_stats(events: DataFrame) -> DataFrame:
    """Custom stateful operator on the **transformWithStateInPandas** API
    (Spark 4's successor to ``applyInPandasWithState``): per-user running
    (count, exact cent-total, max value) kept in a named ``ValueState``,
    emitted every micro-batch the user appears in (update mode).

    ENVIRONMENT GATE, now with a local un-gate path: the
    transformWithState Python worker speaks a protobuf-based state
    protocol — ``import google.protobuf`` must succeed on workers or
    query start crashes with an opaque
    ``STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE``. This container
    ships no protobuf pip package, but
    ``streaming.protobuf_vendor.ensure_protobuf`` ships the host
    google-cloud-sdk's pure-Python runtime via ``addPyFile`` (see that
    module for the version-floor patch and its safety argument); only
    if NO local runtime exists does the operator still raise the clear
    error. The driver-gated catalog surface is
    ``stream_tws_stateful_totals``; the classic-API twin remains
    ``stateful_user_totals`` → ``stream_custom_stateful_totals``.
    NOTE: transformWithState additionally requires the RocksDB state
    store provider — callers scope
    ``spark.sql.streaming.stateStore.providerClass`` the way
    ``stream_rocksdb_state_totals`` does.

    vs the classic API (``stateful_user_totals``): state is a set of
    NAMED, individually-evolvable handles on a ``StatefulProcessorHandle``
    (value/list/map state, TTL support, timers via ``handleExpiredTimer``,
    and an ``initialState`` seed path) instead of one opaque tuple —
    this is the API new stateful operators should target.

    The running total accumulates as exact CENTS (the corpus ``value``
    column is 2-decimal money): integer addition is associative, so the
    final emission is independent of micro-batch replay slicing, and the
    presentation divide-by-100 is one correctly-rounded IEEE op — the
    same cross-engine-exact stance as the fixed-point catalog entries.
    State volume: one (long, long, double) row per user, partitioned by
    the grouping key across state stores; at scale the RocksDB provider
    (``stream_rocksdb_state_totals`` entry) holds it off-heap.
    """
    from irio_mapreduce_spark.streaming.protobuf_vendor import (
        ensure_protobuf,
    )

    if not ensure_protobuf(events.sparkSession):
        raise RuntimeError(
            "transformWithStateInPandas requires the 'protobuf' package "
            "(its Python<->JVM state protocol); no pip install and no "
            "local google-cloud-sdk runtime to vendor in this "
            "environment. Use stateful_user_totals "
            "(applyInPandasWithState) for the same topology."
        )
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class UserStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "stats", "n long, cents long, mx double"
            )

        def handleInputRows(self, key, rows, timerValues):
            n, cents, mx = (
                self._state.get() if self._state.exists() else (0, 0, float("-inf"))
            )
            for pdf in rows:
                n += len(pdf)
                # round-half-away per-row cents: value arrives as a 2dp
                # double; +0.5-floor on the scaled magnitude is exact for
                # money-range doubles and matches both engines' round()
                cents += int(
                    sum(
                        int(abs(v) * 100 + 0.5) * (1 if v >= 0 else -1)
                        for v in pdf["value"]
                    )
                )
                mx = max(mx, float(pdf["value"].max()))
            self._state.update((n, cents, mx))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n": [n],
                    "total": [cents / 100.0],
                    "max_value": [mx],
                }
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=UserStats(),
        outputStructType="user_id long, n long, total double, max_value double",
        outputMode="Update",
        timeMode="None",
    )


def tws_session_windows(events: DataFrame, gap_ms: int = 30 * 60_000) -> DataFrame:
    """CUSTOM SESSIONIZATION with EVENT-TIME TIMERS on
    ``transformWithStateInPandas`` — the workload the timer API exists
    for: per-user session state (start, last-seen, count, exact cents)
    plus ONE registered event-time timer at ``last_seen + gap``; the
    engine fires ``handleExpiredTimer`` when the watermark passes that
    expiry, closing idle sessions WITHOUT waiting for the user's next
    event — the property the built-in ``session_window`` aggregation
    gives you implicitly and a custom stateful operator must build from
    timers. Arrival-driven closes (a row with ``t_us - last >= gap``)
    emit inline and re-register the timer; timer-driven closes clear
    the state so the two paths can never double-emit.

    Gap semantics are END-EXCLUSIVE (strict ``< gap`` extends) to match
    the engine's session windows and the DuckDB oracles. Within a
    micro-batch rows are folded in ``t_us`` order; cross-batch order is
    the caller's contract (time-ordered replay / watermark-bounded
    disorder) — the same stance as every recursive per-key fold here.
    An early timer fire is CORRECT under that contract: the watermark
    passing ``last + gap`` proves no extending event can still arrive.

    Requires ``timeMode="EventTime"`` (so the input must carry a
    watermarked event-time column), protobuf on the Python side
    (``protobuf_vendor.ensure_protobuf``) and the RocksDB state
    provider, like every transformWithState operator. Emits
    (user_id, session_start_us, n_events, total_value) per CLOSED
    session; never-closed sessions (no post-gap event, watermark never
    passed their expiry — e.g. a far-future sentinel's own session)
    stay in state by design.
    """
    from irio_mapreduce_spark.streaming.protobuf_vendor import (
        ensure_protobuf,
    )

    if not ensure_protobuf(events.sparkSession):
        raise RuntimeError(
            "transformWithStateInPandas requires the 'protobuf' package; "
            "no local runtime to vendor in this environment."
        )
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    gap_us = gap_ms * 1000

    def _cents(v: float) -> int:
        return int(abs(v) * 100 + 0.5) * (1 if v >= 0 else -1)

    class SessionTimers(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._handle = handle
            self._sess = handle.getValueState(
                "sess", "start_us long, last_us long, n long, cents long"
            )

        def _emit(self, user_id, start_us, n, cents):
            return pd.DataFrame(
                {
                    "user_id": [user_id],
                    "session_start_us": [start_us],
                    "n_events": [n],
                    "total_value": [cents / 100.0],
                }
            )

        def handleInputRows(self, key, rows, timerValues):
            state = self._sess.get() if self._sess.exists() else None
            out = []
            # The `rows` iterator may split one key's micro-batch across
            # several pandas chunks with no cross-chunk order guarantee;
            # a per-chunk sort would fold out-of-order events and can
            # close/split sessions wrongly. Materialize the whole batch
            # for this key and sort ONCE (bounded: one key's micro-batch,
            # not the stream).
            allrows = sorted(
                (int(t_us), float(v))
                for pdf in rows
                for t_us, v in zip(pdf["t_us"], pdf["value"])
            )
            for t_us, v in allrows:
                if state is not None and t_us - state[1] < gap_us:
                    state = (
                        state[0],
                        state[1] if state[1] >= t_us else t_us,
                        state[2] + 1,
                        state[3] + _cents(v),
                    )
                else:
                    if state is not None:
                        out.append(self._emit(key[0], state[0], state[2], state[3]))
                    state = (t_us, t_us, 1, _cents(v))
            if state is not None:
                self._sess.update(state)
                for t in list(self._handle.listTimers()):
                    self._handle.deleteTimer(t)
                self._handle.registerTimer((state[1] + gap_us) // 1000)
            yield from out

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            self._handle.deleteTimer(expiredTimerInfo.getExpiryTimeInMs())
            if self._sess.exists():
                s = self._sess.get()
                self._sess.clear()
                yield self._emit(key[0], s[0], s[2], s[3])

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=SessionTimers(),
        outputStructType=(
            "user_id long, session_start_us long, n_events long, "
            "total_value double"
        ),
        outputMode="Append",
        timeMode="EventTime",
    )


def tws_per_type_totals(events: DataFrame) -> DataFrame:
    """Per-user PER-EVENT-TYPE running totals on
    ``transformWithStateInPandas`` with **MapState** — the state handle
    the ValueState entries can't demonstrate: a keyed sub-map INSIDE
    each grouping key's state, point-readable (``getValue``) and
    point-writable (``updateValue``) per user key without rewriting the
    rest — exactly how a 100 TB profile store keeps per-dimension
    counters under one entity key (the alternative, one Value tuple per
    (user, type) group, multiplies the grouping-key space by the
    dimension domain and shuffles it every batch). Each micro-batch
    updates only the types it saw, then emits the FULL map (bounded by
    the event-type domain, 5 here) so the latest emission per
    (user, type) is the running total. Exact integer cents in state;
    presentation divide is one correctly-rounded IEEE op. Same protobuf
    + RocksDB requirements as every transformWithState operator."""
    from irio_mapreduce_spark.streaming.protobuf_vendor import (
        ensure_protobuf,
    )

    if not ensure_protobuf(events.sparkSession):
        raise RuntimeError(
            "transformWithStateInPandas requires the 'protobuf' package; "
            "no local runtime to vendor in this environment."
        )
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class PerTypeTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._m = handle.getMapState(
                "per_type", "event_type string", "n long, cents long"
            )

        def handleInputRows(self, key, rows, timerValues):
            for pdf in rows:
                for et, v in zip(pdf["event_type"], pdf["value"]):
                    et = str(et)
                    cur = (
                        self._m.getValue((et,))
                        if self._m.containsKey((et,))
                        else (0, 0)
                    )
                    v = float(v)
                    cents = int(abs(v) * 100 + 0.5) * (1 if v >= 0 else -1)
                    self._m.updateValue(
                        (et,), (cur[0] + 1, cur[1] + cents)
                    )
            out = [
                {
                    "user_id": key[0],
                    "event_type": k[0],
                    "n": val[0],
                    "total": val[1] / 100.0,
                }
                for k, val in self._m.iterator()
            ]
            yield pd.DataFrame(
                out, columns=["user_id", "event_type", "n", "total"]
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=PerTypeTotals(),
        outputStructType=(
            "user_id long, event_type string, n long, total double"
        ),
        outputMode="Update",
        timeMode="None",
    )


def tws_topk_recent(events: DataFrame, k: int = 3) -> DataFrame:
    """Per-user K MOST-RECENT events on ``transformWithStateInPandas``
    with **ListState** — the fourth and final state handle next to
    ValueState (`stream_tws_stateful_totals`), event-time timers
    (`stream_tws_session_timers`) and MapState (`stream_tws_map_state`):
    a bounded ORDERED collection inside each grouping key, read with
    ``get()`` and replaced wholesale with ``put()`` after the per-batch
    merge-and-trim. This is the 'last-N interactions' feature-store
    shape at 100 TB: state stays O(k) per user no matter how many events
    stream through, and arrival order is irrelevant because the list is
    re-ranked by EVENT time on every touch (the replay is deliberately
    NOT time-ordered). A ValueState counter rides along so each
    emission carries the monotone events-seen count — the caller picks
    each user's final emission by max n, exactly like the MapState
    entry.

    Expects a pre-projected batch-friendly frame: ``user_id long,
    ts_us long, event_id long, value double`` (epoch micros — the
    processor never parses timestamps). Cents are exact integers,
    half-away-from-zero like the MapState twin."""
    from irio_mapreduce_spark.streaming.protobuf_vendor import (
        ensure_protobuf,
    )

    if not ensure_protobuf(events.sparkSession):
        raise RuntimeError(
            "transformWithStateInPandas requires the 'protobuf' package; "
            "no local runtime to vendor in this environment."
        )
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class TopKRecent(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._l = handle.getListState(
                "recent", "ts_us long, event_id long, cents long"
            )
            self._n = handle.getValueState("n_seen", "n long")

        def handleInputRows(self, key, rows, timerValues):
            cur = [tuple(r) for r in self._l.get()]
            got = self._n.get()
            n = int(got[0]) if got is not None else 0
            for pdf in rows:
                for ts_us, eid, v in zip(
                    pdf["ts_us"], pdf["event_id"], pdf["value"]
                ):
                    n += 1
                    v = float(v)
                    cents = int(abs(v) * 100 + 0.5) * (1 if v >= 0 else -1)
                    cur.append((int(ts_us), int(eid), cents))
            cur.sort(key=lambda t: (t[0], t[1]), reverse=True)
            cur = cur[:k]
            self._l.put(cur)
            self._n.update((n,))
            yield pd.DataFrame(
                [
                    {
                        "user_id": key[0],
                        "n": n,
                        "recent_cents": sum(t[2] for t in cur),
                        "recent_ids": sum(t[1] for t in cur),
                    }
                ],
                columns=["user_id", "n", "recent_cents", "recent_ids"],
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=TopKRecent(),
        outputStructType=(
            "user_id long, n long, recent_cents long, recent_ids long"
        ),
        outputMode="Update",
        timeMode="None",
    )
