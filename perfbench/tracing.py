"""Tracing for the benchmark's traced runs, all of it from outside the
program: wrappers around the layers' public functions, a
``StreamingQueryListener``, Spark's event log (parsed after the session
stops), and ``/proc`` reads for memory.

Spans are kept in memory and written when the run ends. Each span has an
id, its parent's id, the id of the job it belongs to (the job-group name
``<workload>:<pass>:<job>``), a name, and wall-clock start/end times.
"""

from __future__ import annotations

import datetime
import functools
import importlib
import json
import os
import statistics
import sys
import threading
import time
from collections import Counter, defaultdict
from contextlib import contextmanager

# Public functions wrapped in a traced run: (module, attribute, layer name).
WRAPPED = [
    ("irio_mapreduce_spark.io", "read_table", "io.read_table"),
    ("irio_mapreduce_spark.pipeline", "wordcount_df", "pipeline.wordcount_df"),
    ("irio_mapreduce_spark.pipeline", "submit_batch", "pipeline.submit_batch"),
    ("irio_mapreduce_spark.batch_json", "submit_json_batch", "batch_json.submit_json_batch"),
    ("irio_mapreduce_spark.operators.graph", "pagerank", "operators.graph.pagerank"),
    ("irio_mapreduce_spark.operators.graph", "sssp_rounds", "operators.graph.sssp_rounds"),
    ("irio_mapreduce_spark.llm.dedup", "free_checkpoint", "llm.dedup.free_checkpoint"),
]

STREAM_DURATIONS = {
    "trigger_ms": "triggerExecution",
    "add_batch_ms": "addBatch",
    "query_planning_ms": "queryPlanning",
    "wal_commit_ms": "walCommit",
    "commit_offsets_ms": "commitOffsets",
}


def _family(layer: str) -> str:
    return layer.rsplit(".", 1)[0]


class Tracer:
    """Span recorder. While ``on`` is false every hook is a no-op, so the
    untraced passes of a traced run measure the same code."""

    def __init__(self) -> None:
        self.on = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._job = None

    @contextmanager
    def span(self, name: str, job: str | None = None, **attrs):
        if not self.on:
            yield None
            return
        if job is not None:
            self._job = job
        sp = {
            "id": len(self.spans),
            "parent": self._stack[-1]["id"] if self._stack else None,
            "job": self._job,
            "name": name,
            "start": time.time(),
            **attrs,
        }
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            self._stack.pop()
            if job is not None:
                self._job = None

    def in_family(self, layer: str) -> bool:
        fam = _family(layer)
        return any(_family(s["name"]) == fam for s in self._stack if s.get("layer"))

    def wrap(self, fn, layer: str):
        """A wrapper recording one ``layer`` span per outermost call. A call
        nested inside another call of the same module (``wordcount_df``
        calling ``submit_batch``) belongs to the outer span."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.on or self.in_family(layer):
                return fn(*args, **kwargs)
            with self.span(layer, layer=True):
                return fn(*args, **kwargs)

        traced.__wrapped_original__ = fn
        return traced

    def install(self) -> None:
        """Wrap every public function in ``WRAPPED`` wherever the package
        bound it (``from m import f`` copies the reference), plus
        ``DataFrame.localCheckpoint``, the engine's barrier."""
        from pyspark.sql.classic.dataframe import DataFrame

        for mod_name, attr, layer in WRAPPED:
            orig = getattr(importlib.import_module(mod_name), attr)
            wrapped = self.wrap(orig, layer)
            for name, mod in list(sys.modules.items()):
                if name.startswith("irio_mapreduce_spark") and getattr(mod, attr, None) is orig:
                    setattr(mod, attr, wrapped)
        DataFrame.localCheckpoint = self.wrap(
            DataFrame.localCheckpoint, "barrier.local_checkpoint"
        )

    def layer_totals(self, job_ids: set[str]) -> tuple[Counter, Counter]:
        """(seconds, calls) per layer over the spans of ``job_ids``."""
        secs, calls = Counter(), Counter()
        for sp in self.spans:
            if sp.get("layer") and sp["job"] in job_ids:
                secs[sp["name"]] += sp["end"] - sp["start"]
                calls[sp["name"]] += 1
        return secs, calls

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def make_listener(sink: list):
    """A ``StreamingQueryListener`` appending each trigger's progress
    (start time, input rows, duration breakdown) to ``sink``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressRecorder(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            sink.append({
                "start": _iso_epoch(p.timestamp),
                "rows": int(p.numInputRows),
                "durations": dict(p.durationMs),
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return ProgressRecorder()


def _iso_epoch(ts: str) -> float:
    return datetime.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def catalyst_phases(df) -> dict[str, float]:
    """Force the entry's own plan, then read its phase timings. Until the
    plan is forced, ``tracker().phases()`` holds only ``analysis``; forcing
    it here keeps planning inside the construct phase."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    return {
        k: float(phases.apply(k).durationMs()) if phases.contains(k) else 0.0
        for k in ("analysis", "optimization", "planning")
    }


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------


def parse_event_log(path: str) -> dict:
    """Jobs (submission time, stage ids), completed stages, and per-task
    metrics from one application's uncompressed event log."""
    jobs, stages, tasks = {}, set(), []
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = {
                    "t": ev["Submission Time"] / 1000.0,
                    "stages": ev["Stage IDs"],
                }
            elif kind == "SparkListenerStageCompleted":
                stages.add(ev["Stage Info"]["Stage ID"])
            elif kind == "SparkListenerTaskEnd":
                tasks.append(_task_record(ev))
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def _task_record(ev: dict) -> dict:
    ti = ev["Task Info"]
    tm = ev.get("Task Metrics") or {}
    rd = tm.get("Shuffle Read Metrics") or {}
    wr = tm.get("Shuffle Write Metrics") or {}
    duration = ti["Finish Time"] - ti["Launch Time"]
    run = tm.get("Executor Run Time", 0)
    overhead = tm.get("Executor Deserialize Time", 0) + tm.get("Result Serialization Time", 0)
    return {
        "stage": ev["Stage ID"],
        "index": ti["Index"],
        "duration_ms": duration,
        "run_ms": run,
        "delay_ms": max(0, duration - run - overhead),
        "cpu_ns": tm.get("Executor CPU Time", 0),
        "gc_ms": tm.get("JVM GC Time", 0),
        "spill_bytes": tm.get("Disk Bytes Spilled", 0),
        "read_bytes": rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0),
        "read_blocks": rd.get("Remote Blocks Fetched", 0) + rd.get("Local Blocks Fetched", 0),
        "read_records": rd.get("Total Records Read", 0),
        "fetch_wait_ms": rd.get("Fetch Wait Time", 0),
        "write_bytes": wr.get("Shuffle Bytes Written", 0),
        "write_records": wr.get("Shuffle Records Written", 0),
    }


def scheduler_metrics(log: dict, phases: list[tuple[str, float, float]], wall_s: float, cores: int) -> dict:
    """Per-layer figures for one pass. ``phases`` lists the pass's
    (phase name, start, end) wall-clock intervals; each Spark job belongs
    to the phase during which it was submitted. That is the job-ID range
    of the phase: it also catches jobs that stream-execution threads run,
    which ``setJobGroup`` does not tag."""
    stage_job = {}
    out = Counter()
    job_phase = {}
    for jid, job in log["jobs"].items():
        for name, t0, t1 in phases:
            if t0 <= job["t"] <= t1:
                job_phase[jid] = name
                out[f"scheduler.jobs.{name}"] += 1
                for s in job["stages"]:
                    stage_job.setdefault(s, jid)
                break
    for s in log["stages"]:
        if s in stage_job:
            out[f"scheduler.stages.{job_phase[stage_job[s]]}"] += 1
    tasks = [t for t in log["tasks"] if t["stage"] in stage_job]
    for t in tasks:
        out[f"scheduler.tasks.{job_phase[stage_job[t['stage']]]}"] += 1
    distinct = {(t["stage"], t["index"]) for t in tasks}
    by_stage = defaultdict(list)
    for t in tasks:
        by_stage[t["stage"]].append(t)
    post_shuffle = [
        t
        for ts in by_stage.values()
        if any(x["read_blocks"] or x["read_records"] for x in ts)
        for t in ts
    ]
    run_ms = sum(t["run_ms"] for t in tasks)
    mb = 1 << 20
    res = {
        "scheduler.delay_ms": _mean(t["delay_ms"] for t in tasks),
        "scheduler.attempts_per_task": len(tasks) / len(distinct) if distinct else 1.0,
        "executor.run_s": run_ms / 1000.0,
        "executor.cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
        "executor.gc_s": sum(t["gc_ms"] for t in tasks) / 1000.0,
        "executor.busy_frac": run_ms / 1000.0 / (wall_s * cores),
        "shuffle.write_mb": sum(t["write_bytes"] for t in tasks) / mb,
        "shuffle.read_mb": sum(t["read_bytes"] for t in tasks) / mb,
        "shuffle.records": sum(t["write_records"] for t in tasks),
        "shuffle.fetch_wait_ms": sum(t["fetch_wait_ms"] for t in tasks),
        "shuffle.empty_task_frac": _mean(
            t["read_records"] == 0 for t in post_shuffle
        ),
        "shuffle.spill_mb": sum(t["spill_bytes"] for t in tasks) / mb,
        "task.skew": _skew(by_stage),
    }
    for phase in ("construct", "execute"):
        for kind in ("jobs", "stages", "tasks"):
            res[f"scheduler.{kind}.{phase}"] = out[f"scheduler.{kind}.{phase}"]
    return res


def _mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def _skew(by_stage: dict) -> float:
    """Max over median task duration in the stage with the most task time."""
    if not by_stage:
        return 0.0
    biggest = max(by_stage.values(), key=lambda ts: sum(t["duration_ms"] for t in ts))
    durs = [t["duration_ms"] for t in biggest]
    med = statistics.median(durs)
    return max(durs) / med if med else 1.0


def stream_metrics(progress: list[dict], t0: float, t1: float) -> dict:
    """Trigger counts and summed durations of the triggers started in
    [t0, t1]."""
    ps = [p for p in progress if t0 <= p["start"] <= t1]
    res = {
        "streaming.triggers": len(ps),
        "streaming.empty_triggers": sum(p["rows"] == 0 for p in ps),
        "streaming.input_rows": sum(p["rows"] for p in ps),
    }
    for metric, key in STREAM_DURATIONS.items():
        res[f"streaming.{metric}"] = sum(p["durations"].get(key, 0) for p in ps)
    return res


# ---------------------------------------------------------------------------
# /proc
# ---------------------------------------------------------------------------


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    process under it: the JVM with all its threads, and the Python
    workers. Reaped children count too, so a worker that exits between
    two readings moves its time into its parent's count, and the
    difference of two readings is the CPU the run used in between."""
    total = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """Seconds, summed over this machine's CPUs, that the hypervisor ran
    someone else while they had work (``/proc/stat``)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children() -> dict[int, list[int]]:
    kids = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids[ppid].append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def peak_rss_mb() -> float:
    """High-water RSS of the driver JVM plus this Python process."""
    return (_status_kb(jvm_pid(), "VmHWM") + _status_kb(os.getpid(), "VmHWM")) / 1024.0


class WorkerRssSampler:
    """Samples the summed RSS of the JVM's Python worker processes."""

    def __init__(self, period_s: float = 0.2) -> None:
        self.peak_kb = 0
        self._period = period_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> None:
        self._jvm = jvm_pid()
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.wait(self._period):
            pids = [p for p in descendants(self._jvm) if "python" in _cmdline(p)]
            self.peak_kb = max(self.peak_kb, sum(_status_kb(p, "VmRSS") for p in pids))

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak_kb / 1024.0
