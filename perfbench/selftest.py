#!/usr/bin/env python3
"""Self-test of the benchmark.

    python3 perfbench/selftest.py          # checks + one smoke run per workload and mode
    python3 perfbench/selftest.py --quick  # checks only, no Spark

Checks that the correctness gate catches deliberately corrupted outputs,
that the event-log parser yields every scheduler/executor/shuffle field,
and (smoke runs, tiny inputs via ``run.py --smoke``) that each workload
prints every end-to-end metric of ``BENCHMARK.json`` with its unit when
untraced, and every per-layer metric when traced.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _write_parts(dest: str, lines: list[str], n: int) -> None:
    os.makedirs(dest)
    for i in range(n):
        with open(os.path.join(dest, f"part-{i:05d}"), "w") as fh:
            fh.write("".join(line + "\n" for line in lines[i::n]))


def test_gate_catches_corrupted_mr_output() -> None:
    words = Counter({"wa": 3, "wb": 1, "wc": 7})
    good = [f"{k} {v}" for k, v in sorted(words.items())]
    with tempfile.TemporaryDirectory() as d:
        ok, bad, short = (os.path.join(d, x) for x in ("ok", "bad", "short"))
        _write_parts(ok, good, workloads.R_NUM)
        _write_parts(bad, good[:-1] + ["wc 6"], workloads.R_NUM)
        _write_parts(short, good, workloads.R_NUM - 1)
        check = lambda dest: workloads._check_files(dest) + workloads._diff(  # noqa: E731
            workloads.read_word_counts(dest, " "), dict(words), "pipe"
        )
        assert check(ok) == [], check(ok)
        assert check(bad), "a wrong count passed the gate"
        assert check(short), "r_num - 1 files passed the gate"


def test_gate_catches_corrupted_catalog_output() -> None:
    import duckdb

    duck = duckdb.connect()
    sql = "SELECT * FROM (VALUES (1, 0.5), (2, 1.25)) t(k, v)"
    good = workloads.Collected(["k", "v"], [{"k": 1, "v": 0.5}, {"k": 2, "v": 1.25}])
    assert workloads.compare_with_oracle(good, duck, sql) == []
    bad = workloads.Collected(["k", "v"], [{"k": 1, "v": 0.5}, {"k": 2, "v": 1.26}])
    assert workloads.compare_with_oracle(bad, duck, sql), "a wrong value passed"
    short = workloads.Collected(["k", "v"], [{"k": 1, "v": 0.5}])
    assert workloads.compare_with_oracle(short, duck, sql), "a missing row passed"


def test_event_log_parser_fields() -> None:
    """A two-job log: a shuffle-map stage in the construct phase, a
    post-shuffle stage (one task reads nothing) in the execute phase."""

    def task(stage, index, records, blocks, write=0):
        return {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": stage,
            "Task Info": {"Index": index, "Launch Time": 1000, "Finish Time": 1100 + index},
            "Task Metrics": {
                "Executor Run Time": 90,
                "Executor CPU Time": 50_000_000,
                "JVM GC Time": 3,
                "Executor Deserialize Time": 2,
                "Result Serialization Time": 1,
                "Disk Bytes Spilled": 0,
                "Shuffle Read Metrics": {
                    "Remote Bytes Read": 0,
                    "Local Bytes Read": 100 * records,
                    "Remote Blocks Fetched": 0,
                    "Local Blocks Fetched": blocks,
                    "Total Records Read": records,
                    "Fetch Wait Time": 1,
                },
                "Shuffle Write Metrics": {"Shuffle Bytes Written": write, "Shuffle Records Written": write // 10},
            },
        }

    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 10_000, "Stage IDs": [0]},
        task(0, 0, 0, 0, write=500),
        task(0, 1, 0, 0, write=500),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 20_000, "Stage IDs": [1, 0]},
        task(1, 0, 100, 2),
        task(1, 1, 0, 2),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
    ]
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "app")
        with open(path, "w") as fh:
            fh.write("".join(json.dumps(e) + "\n" for e in events))
        log = tracing.parse_event_log(path)
    m = tracing.scheduler_metrics(log, [("construct", 9.0, 15.0), ("execute", 15.0, 25.0)], 2.0, 4)
    per_layer = {x["name"] for x in _spec()["per_layer"]}
    expected = {
        n
        for n in per_layer
        if n.split(".")[0] in ("scheduler", "executor", "shuffle", "task")
    }
    assert expected <= set(m), f"parser lacks {sorted(expected - set(m))}"
    assert m["scheduler.jobs.construct"] == 1 and m["scheduler.jobs.execute"] == 1
    assert m["scheduler.stages.construct"] == 1 and m["scheduler.stages.execute"] == 1
    assert m["scheduler.tasks.execute"] == 2
    assert m["shuffle.empty_task_frac"] == 0.5
    assert m["shuffle.write_mb"] == 1000 / (1 << 20)


def test_generator_is_seeded() -> None:
    a, b = gen.make_tables(0.001, 7), gen.make_tables(0.001, 7)
    assert all(a[t].equals(b[t]) for t in gen.TABLES)
    assert not a["lineitem"].equals(gen.make_tables(0.001, 8)["lineitem"])


def smoke(workload: str, trace: int) -> None:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=300, check=True,
    )
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    assert result["correct"] and result["failed"] == 0, result
    want = {m["name"]: m["unit"] for m in _spec()["end_to_end" if trace == 0 else "per_layer"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want, f"{workload} trace={trace}: {set(got) ^ set(want)} or units differ"
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())


def main() -> int:
    tests = [
        test_gate_catches_corrupted_mr_output,
        test_gate_catches_corrupted_catalog_output,
        test_event_log_parser_fields,
        test_generator_is_seeded,
    ]
    for t in tests:
        t()
        print(f"ok {t.__name__}", flush=True)
    if "--quick" not in sys.argv:
        for w in ("mr_batch", "iterative_tail"):
            for trace in (0, 1):
                smoke(w, trace)
                print(f"ok smoke {w} --trace {trace}", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
