"""Structured Streaming surface over the ``events`` table.

The reference has no streaming (SURVEY.md §2.3); this is the declared
north-star surface (§2.2 "Streaming"), built on the unified batch/stream
model: every transform below takes a DataFrame — static or streaming — and
returns the same logical shape. tests/test_streaming.py replays the events
table as a file stream and asserts the streaming result equals the batch
result of the SAME function (the batch-equivalence protocol), and the
batch forms are oracle-checked in queries/events_q.py.

Scale stance: streaming state (windows, dedup keys, session state) lives
in the state store keyed by the aggregation keys — at 100 TB/day the
watermark is what bounds state size; every stateful operator here takes an
explicit watermark parameter rather than defaulting to unbounded state.
"""

from irio_mapreduce_spark.streaming.ops import (  # noqa: F401
    cdc_upsert_drain,
    dedup_events,
    drain,
    read_cdc_target,
    read_events_stream,
    replay_chunks,
    replay_time_ordered,
    sentinel_events,
    session_rollup,
    sliding_value_rollup,
    stateful_change_intervals,
    stateful_holt_linear,
    stateful_user_totals,
    stream_static_enrich,
    stream_stream_interval_join,
    tumbling_value_rollup,
    tws_per_type_totals,
    tws_user_stats,
    write_stream_parquet_exactly_once,
)
