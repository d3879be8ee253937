#!/usr/bin/env python3
"""The repository benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. One process runs one workload as a
closed loop: a single client submits the workload's jobs one after
another, each waiting for the previous one, the way the reference's
``ClientMain`` blocks on submit. The session is ``local[N]`` with N the
CPU-affinity count. Inputs are generated from ``--seed`` under
``.perfbench/`` in the checkout; nothing outside the checkout is read or
written.

A run:

1. generates the inputs;
2. builds the engine's session several times (``setup_s`` is the median);
3. runs one cold pass over the jobs, then a fixed number of warm passes
   scaled by ``--seconds`` (at least one), timing each job's wall-clock
   and the CPU the program's processes spent on it. Each pass clears the
   cache, gets a fresh scratch and checkpoint directory, and takes its
   job order from the seed;
4. checks the last warm pass's outputs (not timed): catalog entries
   against their DuckDB oracles, ``mr_batch`` outputs against counts the
   generator computed, and the exactly-``r_num`` sink contract.

With ``--trace 0`` the last stdout line carries the end-to-end metrics.
With ``--trace 1`` the first warm pass runs untraced, the later ones run
traced (layer wrappers, streaming listener, forced plans; the event log is
on for the whole run), and the line carries the per-layer metrics. The
run record and spans are written under ``.perfbench/records/``.

``--smoke`` shrinks the inputs; ``perfbench/selftest.py`` uses it.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")

WORKLOADS = ("mr_batch", "iterative_tail")
SETUPS = 5
# Warm passes per run at --seconds 20; other lengths scale the count. It
# is fixed from --seconds alone, so that it does not vary with run-to-run
# noise. On a 4-core host a warm pass takes 4–6 s on either workload.
# Passes keep speeding up (JIT) through the first few; more passes
# steadied the medians more than discarding the first one did.
WARM_PASSES = 5
GRAPH_KERNELS = ("pagerank", "sssp_rounds")


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def percentile(values: list[float], pct: float) -> float:
    """Linear-interpolation percentile."""
    xs = sorted(values)
    pos = (len(xs) - 1) * pct / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


@dataclass
class PassResult:
    index: int
    traced: bool
    start: float  # wall clock
    wall_s: float
    cpu_s: float = 0.0  # this process tree
    steal_s: float = 0.0  # whole machine
    latencies: list[float] = field(default_factory=list)
    job_cpu_s: list[float] = field(default_factory=list)
    order: list[str] = field(default_factory=list)
    handles: dict = field(default_factory=dict)
    failed: int = 0


class Bench:
    def __init__(self, args) -> None:
        self.args = args
        self.cpus = len(os.sched_getaffinity(0))
        self.work = os.path.join(STATE, f"run-{os.getpid()}")
        self.records = os.path.join(STATE, "records")
        self.local = os.path.join(self.work, "local")
        self.event_dir = os.path.join(self.work, "eventlog")
        self.info: dict = {"cpus": self.cpus, "load_1m_start": os.getloadavg()[0]}

    # -- environment and inputs ------------------------------------------

    def prepare(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        for d in (self.local, self.event_dir, self.records, os.path.join(self.work, "tmp")):
            os.makedirs(d, exist_ok=True)
        # session.DEFAULT_CPUS otherwise falls back to 32 on any host.
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cpus)
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
        os.environ["SPARK_LOCAL_DIRS"] = self.local
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        os.environ["JAVA_TOOL_OPTIONS"] = (
            f"-Djava.io.tmpdir={self.work}/tmp -XX:-UsePerfData"
        )
        tempfile.tempdir = os.environ["TMPDIR"]
        if ROOT not in sys.path:
            sys.path.insert(0, ROOT)
        warehouse = os.path.join(ROOT, "spark-warehouse")
        self.warehouse_before = set(os.listdir(warehouse)) if os.path.isdir(warehouse) else None

        import irio_mapreduce_spark  # noqa: F401  (fails fast without the program)

        import gen
        import workloads

        sizes = workloads.SMOKE if self.args.smoke else workloads.FULL
        self.sf_dir = os.path.join(self.work, "sf")
        self.input_bytes = gen.write_tables(self.sf_dir, sizes.sf, self.args.seed)
        if self.args.workload == "mr_batch":
            self.corpus = gen.write_corpus(
                os.path.join(self.work, "mr"), self.args.seed, sizes.corpus_mb, sizes.corpus_files
            )
            self.input_bytes = self.corpus.input_bytes

    # -- session -----------------------------------------------------------

    def setup(self) -> None:
        """Build the session SETUPS+1 times. The first build (process start
        to ready) includes the JVM launch; setup_s is the median of the
        rebuilds, each ``get_spark`` plus a first footer read."""
        from irio_mapreduce_spark.session import get_spark

        conf = {}
        if self.args.trace:
            conf = {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        nation = os.path.join(self.sf_dir, "nation.parquet")
        self.setups, self.get_spark_s = [], []
        spark = None
        for i in range(SETUPS + 1):
            if spark is not None:
                spark.stop()
            t0 = time.monotonic()
            spark = get_spark(app_name="perfbench", extra_conf=conf)
            t1 = time.monotonic()
            spark.read.parquet(nation).write.format("noop").mode("overwrite").save()
            if i == 0:
                self.info["cold_start_s"] = process_age_s()
            else:
                self.setups.append(time.monotonic() - t0)
                self.get_spark_s.append(t1 - t0)
        self.spark = spark
        sc = spark.sparkContext
        par = {
            "cpus": self.cpus,
            "defaultParallelism": sc.defaultParallelism,
            "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        }
        self.info.update(par)
        if len(set(par.values())) != 1:
            raise RuntimeError(f"parallelism disagrees, refusing to report: {par}")

    # -- passes --------------------------------------------------------------

    def build_jobs(self, tracer) -> list:
        import workloads
        from pyspark import cloudpickle

        # The mr_batch steps run in Python workers, which cannot import
        # the benchmark's modules: ship them by value.
        cloudpickle.register_pickle_by_value(workloads)
        if self.args.workload == "mr_batch":
            return workloads.mr_jobs(self.corpus, tracer)
        return workloads.catalog_jobs(workloads.ITERATIVE_TAIL, self.sf_dir, tracer)

    def run_pass(self, k: int, jobs: list, tracer) -> PassResult:
        import tracing

        spark, sc = self.spark, self.spark.sparkContext
        spark.catalog.clearCache()
        pass_dir = os.path.join(self.local, f"pass-{k}")
        os.makedirs(os.path.join(pass_dir, "tmp"))
        tempfile.tempdir = os.path.join(pass_dir, "tmp")
        sc.setCheckpointDir(os.path.join(pass_dir, "ckpt"))
        order = list(jobs)
        random.Random(f"{self.args.seed}:{k}").shuffle(order)
        res = PassResult(k, tracer.on, time.time(), 0.0, order=[j.name for j in order])
        t0, cpu0, steal0 = time.monotonic(), tracing.tree_cpu_s(), tracing.steal_s()
        with tracer.span("pass", index=k):
            for job in order:
                group = f"{self.args.workload}:{k}:{job.name}"
                sc.setJobGroup(group, group)
                c = tracing.tree_cpu_s()
                s = time.monotonic()
                with tracer.span("job", job=group):
                    try:
                        res.handles[job.name] = job.run(spark, pass_dir)
                    except Exception:
                        res.failed += 1
                        print(f"[perfbench] {group} failed:\n{traceback.format_exc()}", file=sys.stderr)
                res.latencies.append(time.monotonic() - s)
                res.job_cpu_s.append(tracing.tree_cpu_s() - c)
        res.wall_s = time.monotonic() - t0
        res.cpu_s = tracing.tree_cpu_s() - cpu0
        res.steal_s = tracing.steal_s() - steal0
        print(f"[perfbench] pass {k} ({'traced' if tracer.on else 'untraced'}): {res.wall_s:.3f}s", file=sys.stderr)
        return res

    def run_passes(self, jobs: list, tracer, start_tracing) -> list[PassResult]:
        """The cold pass, then a fixed number of warm passes
        (``WARM_PASSES``). A traced run alternates untraced and traced
        warm passes, starting untraced, and runs at least three, so that
        tracing overhead is measured between untraced passes."""
        passes = [self.run_pass(0, jobs, tracer)]
        warm = max(1, round(WARM_PASSES * self.args.seconds / 20))
        if self.args.trace:
            warm = max(3, warm)
            start_tracing()
        for i in range(warm):
            tracer.on = bool(self.args.trace) and i % 2 == 1
            passes.append(self.run_pass(len(passes), jobs, tracer))
        tracer.on = False
        return passes

    def gate(self, jobs: list, last: PassResult) -> int:
        """Check the last warm pass's outputs; returns jobs that mismatch."""
        bad = 0
        for job in jobs:
            if job.name not in last.handles:
                continue
            try:
                problems = job.check(self.spark, last.handles[job.name])
            except Exception:
                problems = [traceback.format_exc()]
            if problems:
                bad += 1
                print(f"[perfbench] gate {job.name}: {problems}", file=sys.stderr)
        return bad

    # -- metrics ---------------------------------------------------------------

    def end_to_end(self, passes: list[PassResult]) -> dict:
        """CPU seconds the program's processes spent over the warm passes.
        On a shared host the hypervisor's steal moved a run's wall-clock
        pass time by 30-40% between seeds and its CPU time far less, so
        the wall-clock figures are per-layer (:func:`wall_metrics`).
        ``pass_cpu_s`` is the mean: CPU adds up, and the warm passes'
        CPU keeps falling (JIT), so a median picks one point of that
        curve. A run holds too few warm jobs (15 on each workload) for a
        percentile with ten samples beyond it, so the tail is p90."""
        warm = passes[1:]
        cpu = [x for p in warm for x in p.job_cpu_s]
        pass_cpu_s = statistics.fmean(p.cpu_s for p in warm)
        return {
            "setup_s": (statistics.median(self.setups), "s"),
            "pass_cpu_s": (pass_cpu_s, "cpu-s"),
            "job_cpu_p50_s": (statistics.median(cpu), "cpu-s"),
            "job_cpu_tail_s": (percentile(cpu, 90), "cpu-s"),
            "input_mb_per_cpu_s": (self.input_bytes / 1e6 / pass_cpu_s, "MB/cpu-s"),
        }

    def per_layer(self, passes, tracer, log, progress, workers_rss) -> dict:
        import tracing
        import workloads

        untraced = [p for p in passes[1:] if not p.traced]
        traced = [p for p in passes[1:] if p.traced]
        per_pass = []
        for p in traced:
            jobs = {f"{self.args.workload}:{p.index}:{n}" for n in self.job_names}
            spans = [s for s in tracer.spans if s["job"] in jobs]
            phases = [
                (s["name"], s["start"], s["end"])
                for s in spans
                if s["name"] in ("construct", "execute")
            ]
            # Jobs submitted while the entry's plan is forced belong to
            # construct: widen each construct interval to its execute start.
            phases = _close_gaps(phases)
            m = tracing.scheduler_metrics(log, phases, p.wall_s, self.cpus)
            m.update(tracing.stream_metrics(progress, p.start, p.start + p.wall_s))
            secs, calls = tracer.layer_totals(jobs)
            m["io.read_table_s"] = secs["io.read_table"]
            m["io.read_table_calls"] = calls["io.read_table"]
            for layer in ("pipeline.wordcount_df", "pipeline.submit_batch", "batch_json.submit_json_batch"):
                m[f"{layer}_s"] = secs[layer]
            for k in GRAPH_KERNELS:
                m[f"operators.graph.{k}_s"] = secs[f"operators.graph.{k}"]
                m[f"operators.graph.{k}.calls"] = calls[f"operators.graph.{k}"]
            m["barrier.local_checkpoint_calls"] = calls["barrier.local_checkpoint"]
            m["barrier.local_checkpoint_s"] = secs["barrier.local_checkpoint"]
            m["llm.dedup.free_checkpoint_calls"] = calls["llm.dedup.free_checkpoint"]
            m["queries.construct_s"] = _span_sum(spans, "construct")
            m["queries.execute_s"] = _span_sum(spans, "execute")
            for ph in ("analysis", "optimization", "planning"):
                m[f"catalyst.{ph}_ms"] = sum(s.get(ph, 0.0) for s in spans if s["name"] == "construct")
            if self.args.workload == "mr_batch":
                files = [f for d in p.handles.values() for f in workloads.part_files(d)]
                m["sink.files_written"] = len(files) / max(1, len(p.handles))
                m["sink.mb_written"] = sum(os.path.getsize(f) for f in files) / (1 << 20)
            else:
                m["sink.files_written"] = 0
                m["sink.mb_written"] = 0.0
            per_pass.append(m)
        out = {k: statistics.mean(m[k] for m in per_pass) for k in per_pass[0]}
        out["session.get_spark_s"] = statistics.median(self.get_spark_s)
        out["session.cold_start_s"] = self.info["cold_start_s"]
        out["session.cold_pass_s"] = passes[0].wall_s
        out["python_workers.peak_rss_mb"] = workers_rss
        out["driver.peak_rss_mb"] = self.peak_rss
        out["failed_frac"] = self.failed / self.attempted
        out["trace.overhead_s"] = statistics.median(p.wall_s for p in traced) - statistics.median(
            p.wall_s for p in untraced
        )
        out.update(wall_metrics(untraced, self.cpus))
        out["host.cpus"] = self.cpus
        out["host.load_1m_start"] = self.info["load_1m_start"]
        out["host.load_1m_end"] = self.info["load_1m_end"]
        return {k: (v, _unit(k)) for k, v in sorted(out.items())}

    # -- the run -------------------------------------------------------------------

    def run(self) -> dict:
        import tracing

        phase = time.monotonic()
        self.prepare()
        self.info["prepare_s"] = time.monotonic() - phase
        phase = time.monotonic()
        self.setup()
        self.info["setup_total_s"] = time.monotonic() - phase
        tracer = tracing.Tracer()
        jobs = self.build_jobs(tracer)
        self.job_names = [j.name for j in jobs]
        progress: list = []
        sampler = tracing.WorkerRssSampler()

        def start_tracing():
            tracer.install()
            self.spark.streams.addListener(tracing.make_listener(progress))
            sampler.start()

        passes = self.run_passes(jobs, tracer, start_tracing)
        self.peak_rss = tracing.peak_rss_mb()
        workers_rss = sampler.stop() if self.args.trace else 0.0
        self.attempted = sum(len(p.latencies) for p in passes)
        phase = time.monotonic()
        self.failed = sum(p.failed for p in passes) + self.gate(jobs, passes[-1])
        self.info["gate_s"] = time.monotonic() - phase
        self.info["load_1m_end"] = os.getloadavg()[0]
        if self.args.trace:
            time.sleep(1.0)  # let the listener bus deliver the last progress events
        app_id = self.spark.sparkContext.applicationId
        record = {
            "args": vars(self.args),
            "info": self.info,
            "setups_s": self.setups,
            "passes": [
                {
                    "index": p.index,
                    "traced": p.traced,
                    "wall_s": p.wall_s,
                    "cpu_s": p.cpu_s,
                    "steal_s": p.steal_s,
                    "jobs": dict(zip(p.order, p.latencies)),
                    "jobs_cpu_s": dict(zip(p.order, p.job_cpu_s)),
                }
                for p in passes
            ],
            "attempted": self.attempted,
            "failed": self.failed,
        }
        phase = time.monotonic()
        shutdown(self.spark)
        record["info"]["shutdown_s"] = time.monotonic() - phase
        if self.args.trace:
            log = tracing.parse_event_log(os.path.join(self.event_dir, app_id))
            metrics = self.per_layer(passes, tracer, log, progress, workers_rss)
        else:
            metrics = self.end_to_end(passes)
        record["metrics"] = {k: v for k, (v, _) in metrics.items()}
        name = f"{self.args.workload}-seed{self.args.seed}-trace{self.args.trace}"
        with open(os.path.join(self.records, name + ".json"), "w") as fh:
            json.dump(record, fh, indent=1)
        if self.args.trace:
            tracer.dump(os.path.join(self.records, name + "-spans.json"))
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    def cleanup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        warehouse = os.path.join(ROOT, "spark-warehouse")
        if self.warehouse_before is None:
            shutil.rmtree(warehouse, ignore_errors=True)
        elif os.path.isdir(warehouse):
            for d in set(os.listdir(warehouse)) - self.warehouse_before:
                shutil.rmtree(os.path.join(warehouse, d), ignore_errors=True)


def wall_metrics(passes: list[PassResult], cpus: int) -> dict:
    """Wall-clock pass and job latency, and the share of the machine's
    CPU time the hypervisor stole meanwhile, which explains most of their
    spread between runs."""
    lat = [x for p in passes for x in p.latencies]
    return {
        "wall.pass_s": statistics.median(p.wall_s for p in passes),
        "wall.job_p50_s": statistics.median(lat),
        "wall.job_tail_s": percentile(lat, 90),
        "host.steal_frac": sum(p.steal_s for p in passes) / (cpus * sum(p.wall_s for p in passes)),
    }


def _close_gaps(phases: list[tuple[str, float, float]]) -> list[tuple[str, float, float]]:
    phases = sorted(phases, key=lambda p: p[1])
    out = []
    for i, (name, t0, t1) in enumerate(phases):
        if name == "construct" and i + 1 < len(phases):
            t1 = max(t1, phases[i + 1][1])
        out.append((name, t0, t1))
    return out


def _span_sum(spans: list[dict], name: str) -> float:
    return sum(s["end"] - s["start"] for s in spans if s["name"] == name)


def _unit(metric: str) -> str:
    if metric in ("task.skew", "scheduler.attempts_per_task"):
        return "ratio"
    if metric == "sink.mb_written":
        return "MB"
    if metric.startswith("host.load"):
        return "load"
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_mb", "MB"), ("_frac", "fraction")):
        if metric.endswith(suffix):
            return unit
    return "count"


def shutdown(spark) -> None:
    """Stop the session, then the JVM, and wait until every process this
    run started has ended."""
    import tracing
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    kids = tracing.descendants(os.getpid())
    spark.stop()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(_alive(p) for p in kids):
        time.sleep(0.1)
    for p in kids:
        if _alive(p):
            os.kill(p, 9)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for the self-test")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    # Everything the run prints (including the JVM, which inherits fd 1)
    # goes to stderr; only the result line reaches the real stdout.
    real_stdout = os.dup(1)
    os.dup2(2, 1)
    bench = Bench(args)
    try:
        result = bench.run()
    finally:
        bench.cleanup()
    sys.stdout.flush()
    os.dup2(real_stdout, 1)
    os.write(1, (json.dumps(result) + "\n").encode())
    return 0


if __name__ == "__main__":
    sys.exit(main())
