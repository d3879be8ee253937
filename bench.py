#!/usr/bin/env python
"""Benchmark harness: times every catalog query at the bench scale factor.

Prints exactly ONE compact JSON line as the LAST line of stdout:

    {"metric":"catalog_total","value":<sum sec>,"unit":"sec",
     "queries":{"q1_pricing_summary":sec,...},"sf":0.1}

Stdout discipline: the real stdout file descriptor is duplicated away and
fd 1 is pointed at stderr for the WHOLE run — including the Spark JVM child,
which inherits fd 1 — so no library can leak bytes onto stdout before the
final line. The JSON itself is kept compact (3-decimal timings, no spaces);
full-precision detail goes to ``BENCH_DETAIL.json`` next to this file.

Line-size contract: the recording harness keeps only the LAST ~2000 bytes
of stdout (observed in BENCH_r01..r03: ``tail`` truncated to 2000 chars and
``parsed: null`` every round once the catalog outgrew the budget). The
printed line therefore trims ``queries`` to the SLOWEST entries that fit a
1800-byte budget (the informative ones for a perf read), and adds
``queries_measured`` / ``detail`` fields so the full 100+-entry per-query
map in ``BENCH_DETAIL.json`` is discoverable. ``value`` is always the total
over ALL measured entries, not just the printed subset. The detail file
also carries ``codegen_compiles``, the Janino class compilations each
measured entry caused, and ``codegen_compiles_warmup``, the warm-up's
total, so a codegen-cache eviction shows up as non-zero counts on entries
the warm-up already ran. ``stream_triggers`` lists, per entry that drained
a streaming query, one record per drain from ``streaming.ops.DRAIN_LOG``
(triggers, input rows, summed ``addBatch`` and ``queryPlanning`` ms), and
``memo`` the entry's ``session_memo`` hits and misses per memo name.

Execution is forced with a ``noop``-format write — full computation, no
driver-side collect, so the timing measures the distributed plan, not
result serialization.

``sim_pairs_bruteforce`` is excluded from the measured path: it is the
intentionally-O(n²) exactness oracle for the ANN entries (see
queries/similarity_q.py), not a scale-path operator; benching a cartesian
product at every sf would just measure n². It remains correctness-checked
by the driver and pytest at sf0.01.

Env knobs (driver contract):
  SPARK_GRAFT_SF_DIR  input dir  (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS    local[N]   (default: the process's CPU-affinity count,
                                  session.DEFAULT_CPUS)
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from collections import Counter
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

# Deliberately-quadratic oracles kept out of the timed suite (still in the
# correctness catalog).
EXCLUDE = {"sim_pairs_bruteforce"}

# Idle-host gate (r11 VERDICT "What's wrong #1": five bench runs burned on
# external VM contention that was only detected AFTER each ~10-minute run;
# the check-uptime-first discipline lived in prose). A run whose START
# 1-minute load average is at or above this threshold is stamped
# ``record_eligible: false`` in BENCH_DETAIL.json and prints a loud
# warning — BASELINE.md record admission requires ``record_eligible:
# true`` (rule cited there next to the standing record).
RECORD_LOAD_THRESHOLD = 0.5


def _loadavg() -> list[float]:
    try:
        return [round(x, 3) for x in os.getloadavg()]
    except OSError:
        return [-1.0, -1.0, -1.0]


def _sf_of(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    try:
        return float(m.group(1).rstrip(".")) if m else 0.0
    except ValueError:
        return 0.0


def _force(df) -> None:
    """Execute the full plan without collecting results to the driver."""
    df.write.format("noop").mode("overwrite").save()


def _compiles(spark) -> int:
    """Generated classes Janino has compiled in this JVM so far; a delta of
    0 over an entry means every class it ran came from the codegen cache."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def compact_result(
    timings: dict[str, float],
    total: float,
    sf: float,
    budget: int = 1800,
    record_eligible: bool | None = None,
    load_avg_start: list[float] | None = None,
) -> dict:
    """Build the printed JSON payload, trimming ``queries`` to the slowest
    entries that keep the serialized line within ``budget`` bytes (the
    recording harness stores only the last ~2000 bytes of stdout). Failures
    (-1.0 sentinel) sort ahead of every timing so they are never trimmed.
    ``value`` stays the total over ALL measured entries.

    ``record_eligible`` / ``load_avg_start`` ride in the compact line (r12
    verdict "Next #7"): a PERF comparison of two rounds' headline numbers
    must see the contention caveat without digging into BENCH_DETAIL.json —
    the r12 driver run was NOT record-eligible (start load 3.04) and 15 of
    its 16 apparent regressions were contention, adjudicated only a round
    later."""
    printed: dict[str, float] = {}
    by_cost = sorted(timings.items(), key=lambda kv: (kv[1] >= 0, -kv[1]))

    def _payload(queries: dict[str, float]) -> dict:
        out = {
            "metric": "catalog_total",
            "value": total,
            "unit": "sec",
            "queries": queries,
            "queries_measured": len(timings),
            "detail": "BENCH_DETAIL.json",
            "sf": sf,
        }
        if record_eligible is not None:
            out["record_eligible"] = record_eligible
        if load_avg_start is not None:
            out["load_avg_start"] = load_avg_start
        return out

    for name, t in by_cost:
        candidate = dict(printed)
        candidate[name] = t
        if len(json.dumps(_payload(candidate), separators=(",", ":"))) > budget:
            break
        printed = candidate
    return _payload(printed)


def main() -> int:
    # Park the real stdout; everything during the run (Python prints, JVM
    # child output) goes to stderr. Restored only for the final JSON line.
    real_stdout = os.dup(1)
    os.dup2(2, 1)

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    load_start = _loadavg()
    record_eligible = 0.0 <= load_start[0] < RECORD_LOAD_THRESHOLD
    if not record_eligible:
        print(
            f"[bench] WARNING: start load average {load_start} is not idle "
            f"(1-min >= {RECORD_LOAD_THRESHOLD}) — this run is NOT "
            "record-eligible; timings will carry contention noise",
            file=sys.stderr,
        )
    from irio_mapreduce_spark import session
    from irio_mapreduce_spark.session import get_spark
    from irio_mapreduce_spark import queries as catalog
    from irio_mapreduce_spark.streaming.ops import DRAIN_LOG

    spark = get_spark(app_name="irio_mapreduce_spark-bench")
    qs = catalog.all_queries()
    warmup_compiles = _compiles(spark)

    # Warm up the JVM / first-read parquet footers so query #1 isn't charged
    # for session startup.
    _force(spark.read.parquet(os.path.join(sf_dir, "nation.parquet")))

    # A footer read alone leaves whole-stage codegen, the shuffle writer
    # path, broadcast-exchange machinery, the pandas-UDF worker pool, the
    # streaming micro-batch scheduler, and the foreachBatch path cold, and
    # that cold-start (~1-2 s each on a slow host) lands on whichever
    # entries the rotation put at the FRONT of the window — r5's rotation
    # made q7 look 4x slower, and r9's made SIX of its first 14 window
    # entries measure >1.8x their standing numbers with byte-identical
    # plans (r9 VERDICT "What's wrong #1": first-use machinery cost, not
    # regression). Run the freshly-rotated head of the window once
    # UNMEASURED — the count comes from the rotation metadata itself
    # (catalog.WINDOW_WARMUP_COUNT, maintained next to FRONT_WINDOW) so
    # a rotation can never silently warm the wrong number of entries
    # (r10 ADVICE.md). ~+30 s of unmeasured wall-clock buys
    # provenance-clean timings. Codegen is no longer what stays cold
    # after it: get_spark sizes the generated-class cache past the
    # warm-up's classes (815 at sf0.1), so the measured pass reuses them
    # and recompiles only classes with per-call literals
    # (``codegen_compiles`` in BENCH_DETAIL.json). The other first-use
    # costs it absorbs are the pandas-UDF worker pool and the streaming
    # micro-batch scheduler.
    from irio_mapreduce_spark.queries.catalog import WINDOW_WARMUP_COUNT

    _warmed = 0
    for _name, _fn in qs.items():
        if _name in EXCLUDE:
            continue
        if _warmed >= WINDOW_WARMUP_COUNT:
            break
        _warmed += 1
        _t0 = time.monotonic()
        try:
            _force(_fn(spark, sf_dir))
            print(
                f"[bench] warmup {_name}: {time.monotonic() - _t0:.3f}s "
                "(unmeasured)",
                file=sys.stderr,
            )
        except Exception as e:
            print(f"[bench] warmup {_name}: FAILED {e}", file=sys.stderr)

    # The pure-Python DataSource path (dirtext/dirtail) runs in SEPARATE
    # Python planner/writer worker processes that the head-entry warm-up
    # above never touches; their first spawn (+ the cloudpickle-by-value
    # registration payload) costs ~5-10 s and lands on whichever pysource
    # entry the rotation put first — r6's rotation made the dirtail entry
    # look 2.9x slower with a byte-identical plan (r6 VERDICT "What's
    # wrong #1"). Warm that machinery once, unmeasured, on a 3-row corpus.
    _t0 = time.monotonic()
    try:
        import tempfile

        from irio_mapreduce_spark import pysource
        from irio_mapreduce_spark.streaming import drain

        pysource.register(spark)
        _wd = tempfile.mkdtemp(prefix="bench_warm_pysrc_")
        _rows = spark.range(3).selectExpr("CAST(id AS STRING) AS value")
        _rows.write.format("dirtext").option("path", f"{_wd}/d").mode(
            "append"
        ).save()
        drain(
            spark.readStream.format("dirtail")
            .option("path", f"{_wd}/d")
            .load()
            .select("value"),
            "dirtext",
            path=f"{_wd}/o",
            checkpoint=f"{_wd}/ck",
        )
        _force(spark.read.format("dirtext").option("path", f"{_wd}/o").load())
        print(
            f"[bench] warmup pysource runner: {time.monotonic() - _t0:.3f}s "
            "(unmeasured)",
            file=sys.stderr,
        )
    except Exception as e:
        print(f"[bench] warmup pysource runner: FAILED {e}", file=sys.stderr)

    # The streaming entries share two session-cached replay directories
    # (4-chunk out-of-order and time-ordered, queries/streaming_q.py);
    # whichever entry FIRST needs one pays its ~1-2 s materialization —
    # another rotation-order cost that masquerades as a per-entry
    # regression when the window shuffles (r6→r7 diff showed the two
    # entries newly at the window head at ~2x their standing numbers
    # with byte-identical plans). Materialize both once, unmeasured.
    _t0 = time.monotonic()
    try:
        from irio_mapreduce_spark.queries import streaming_q as _sq

        _sq._replay_dir(spark, sf_dir)
        _sq._ordered_replay_dir(spark, sf_dir)
        # r12: the sentinel-free time-ordered BASE chunks (copied into
        # per-entry dirs by _fresh_ordered_replay) are a third shared
        # fixture — warm both chunk counts in use.
        _sq._fresh_ordered_replay(spark, sf_dir, 4, "bench_warm_ord4_")
        _sq._fresh_ordered_replay(spark, sf_dir, 3, "bench_warm_ord3_")
        print(
            f"[bench] warmup replay dirs: {time.monotonic() - _t0:.3f}s "
            "(unmeasured)",
            file=sys.stderr,
        )
    except Exception as e:
        print(f"[bench] warmup replay dirs: FAILED {e}", file=sys.stderr)

    warmup_compiles = _compiles(spark) - warmup_compiles
    timings: dict[str, float] = {}
    compiles: dict[str, int] = {}
    stream_triggers: dict[str, list[dict[str, int]]] = {}
    memo: dict[str, dict[str, dict[str, int]]] = {}
    skipped: list[str] = []
    for name, fn in qs.items():
        if name in EXCLUDE:
            skipped.append(name)
            print(f"[bench] {name}: skipped (excluded by design)", file=sys.stderr)
            continue
        c0 = _compiles(spark)
        d0 = len(DRAIN_LOG)
        hits0 = Counter(session._MEMO_HITS)
        misses0 = Counter(session._MEMO_MISSES)
        t0 = time.monotonic()
        try:
            _force(fn(spark, sf_dir))
            timings[name] = round(time.monotonic() - t0, 3)
            print(f"[bench] {name}: {timings[name]:.3f}s", file=sys.stderr)
        except Exception as e:  # a broken query must not zero the whole bench
            timings[name] = -1.0
            print(f"[bench] {name}: FAILED {e}", file=sys.stderr)
        compiles[name] = _compiles(spark) - c0
        if len(DRAIN_LOG) > d0:
            stream_triggers[name] = DRAIN_LOG[d0:]
        hits = session._MEMO_HITS - hits0
        misses = session._MEMO_MISSES - misses0
        if hits or misses:
            memo[name] = {"hits": dict(hits), "misses": dict(misses)}

    total = round(sum(t for t in timings.values() if t >= 0), 3)
    load_end = _loadavg()
    if not record_eligible:
        print(
            f"[bench] WARNING: run started at load {load_start} (end "
            f"{load_end}) — NOT record-eligible, do not admit to "
            "BASELINE.md as a record",
            file=sys.stderr,
        )
    result = compact_result(
        timings,
        total,
        _sf_of(sf_dir),
        record_eligible=record_eligible,
        load_avg_start=load_start,
    )
    detail = dict(
        result,
        queries=timings,
        codegen_compiles=compiles,
        codegen_compiles_warmup=warmup_compiles,
        stream_triggers=stream_triggers,
        memo=memo,
        excluded=skipped,
        sf_dir=sf_dir,
        n_queries=len(timings),
        load_avg_start=load_start,
        load_avg_end=load_end,
        record_load_threshold=RECORD_LOAD_THRESHOLD,
        record_eligible=record_eligible,
    )
    try:
        with open(os.path.join(_REPO, "BENCH_DETAIL.json"), "w") as f:
            json.dump(detail, f, indent=1, sort_keys=True)
    except OSError as e:
        print(f"[bench] BENCH_DETAIL.json not written: {e}", file=sys.stderr)

    sys.stdout.flush()
    sys.stderr.flush()
    line = json.dumps(result, separators=(",", ":")) + "\n"
    os.dup2(real_stdout, 1)
    os.write(1, line.encode())
    return 0


if __name__ == "__main__":
    sys.exit(main())
