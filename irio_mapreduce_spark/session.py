"""SparkSession factory.

Replaces the reference's process topology (Client -> Master -> TaskManager ->
Workers, SURVEY.md §0) with a single SparkSession: the Spark driver plays the
Master+TaskManager roles (DAGScheduler = the reference's 3-phase orchestration,
reference ``taskmanager/TaskManagerImpl.java:127-141``), executors play the
Workers (``worker/WorkerImpl.java:30-133``).

Fault-tolerance parity is config, not code (SURVEY.md §2.1 table):

* retry cap            -> ``spark.task.maxFailures`` (reference MAX_ATTEMPT=3,
                          ``TaskManagerImpl.java:42``)
* speculation          -> ``spark.speculation`` (reference WORKER_TIMEOUT=600s,
                          ``TaskManagerImpl.java:43``)
* first-wins commit    -> Spark's output-commit coordination (reference
                          ``DistrStorage.java:213-233``)

Scale stance: locally the session runs ``local[N]`` with N the process's
CPU-affinity count (``SPARK_GRAFT_CPUS`` overrides it), and shuffle
partitions default to the same N. At cluster scale the same builder is
used with ``master`` unset (taken from spark-submit), AQE handles runtime
partition coalescing and skew-join splitting, and shuffle partitions
should be ~2-3x total executor cores.

Per-session state (replay fixtures written once per context, py4j-built
``Column`` trees) is kept in one memo, :func:`session_memo`. A runtime conf
an entry needs for one step is set and restored by :func:`scoped_conf`, the
only place besides the builder and ``io.read_table``'s ``nanosAsLong``
contract that writes session conf.
"""

from __future__ import annotations

import contextlib
import os
from collections import Counter

from pyspark import SparkContext
from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def _default_driver_mem() -> str:
    """A quarter of the memory this process may use, between 1g and 16g.

    The JVM's RSS runs well past ``-Xmx`` (off-heap Arrow/Netty buffers,
    metaspace) and shares the host with the Python workers, so a heap near
    host size is not safe: with a fixed 16g heap on a 15.7 GB host the
    test suite's JVM grew to 14.9 GB RSS and was OOM-killed, while a 4g
    heap ran the whole suite.
    """
    limit = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    try:  # cgroup v2 limit of the container, "max" when unlimited
        with open("/sys/fs/cgroup/memory.max") as f:
            limit = min(limit, int(f.read()))
    except (OSError, ValueError):
        pass
    return f"{max(1024, min(16 * 1024, limit // 4 // 2**20))}m"


def get_spark(
    app_name: str = "irio_mapreduce_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    AQE is on so the physical plan adapts at runtime (partition coalescing,
    skew-join splitting, dynamic broadcast) — the optimizer the reference
    lacks entirely (SURVEY.md §4.1). Arrow is on so any pandas-UDF hop is
    batch-vectorized rather than row-at-a-time.
    """
    cpus = DEFAULT_CPUS
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Engine-wide contract: parquet TIMESTAMP(NANOS) columns read as long
        # (io.read_table converts to µs timestamps explicitly). Set here so
        # the behavior is uniform for the whole session, not flipped mid-run.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_mem)
        # Generated-class cache size (a static conf: the JVM-wide cache is
        # sized when CodeGenerator is first used, so only the first session
        # a JVM builds sets it). At Spark's default of 100, interleaving the
        # PageRank, SSSP and stream-dedup entries evicted each other's
        # classes: every warm pass re-ran Janino and C1/C2 on 26-71 classes
        # it had already compiled (one cold pass of the three compiles 117).
        # At 2000 those warm passes compile 0-2, and bench.py's 38-entry
        # warm-up (815 classes at sf0.1) fits with room to spare.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # r12 (guide §4 "heavyweight init once"): daemon variant that
        # pre-imports pandas/pyarrow so every forked Python worker inherits
        # the loaded stack copy-on-write. A stage chaining K mapInPandas
        # operators runs K PythonRunner levels per task (cores×K fresh
        # workers at once); with the stock daemon each fork re-imports
        # pandas (~1 s CPU) and the first such stage in a session measured
        # 10-28 s instead of ~1 s. The same daemon removes a fixed cost of
        # EVERY Python task: each task's importlib.invalidate_caches()
        # re-read pyspark.zip's 1328-entry directory once per zipimporter
        # (12 of them) on Python 3.10-3.12, 0.13-0.24 CPU-s per task; the
        # daemon re-reads an archive only when it changed (a 64-task
        # parallelize().count() measured 12-16 -> 1.9 CPU-s of Python
        # worker time, 3.4-4.6 -> 1.1 s wall, 4 cores, Python 3.11). It
        # also gc.freeze()s its heap before forking: the stock fork loop's
        # gc.collect() after every task walked the ~73k objects each
        # worker inherits, 37-63 ms CPU per task, and now walks only the
        # worker's own (under 0.1 ms). See preload_daemon.py. The
        # package's parent dir rides the worker PYTHONPATH so the daemon
        # module resolves regardless of the driver's cwd/sys.path patching.
        # Deploy caveat (r12 ADVICE, acknowledged): on a non-local cluster
        # where the package ships via archives/venv, the driver-local
        # PYTHONPATH below is wrong for executors and these two configs
        # should be left to the submitter (gate on deploy mode before
        # reusing this builder outside the local harness); the preload
        # daemon itself degrades gracefully to the stock fork loop if its
        # imports fail (see preload_daemon.py's ImportError fallback).
        .config("spark.python.daemon.module", "irio_mapreduce_spark.preload_daemon")
        .config(
            "spark.executorEnv.PYTHONPATH",
            os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
            + (os.pathsep + os.environ["PYTHONPATH"] if os.environ.get("PYTHONPATH") else ""),
        )
    )
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER_URL"):
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# (context token, name, *parts) -> value, for session_memo.
_MEMO: dict[tuple, object] = {}
# Lookups per memo name, so a run can show which fixtures it reused.
_MEMO_HITS: Counter[str] = Counter()
_MEMO_MISSES: Counter[str] = Counter()


def _context_token() -> tuple[str, int] | None:
    """``(applicationId, startTime)`` of the active SparkContext, or None.
    Unique per context incarnation; ``id(sc)`` is not, since the allocator
    may reuse it once a stopped context is collected."""
    sc = SparkContext._active_spark_context
    return (sc.applicationId, sc.startTime) if sc is not None else None


def session_memo(key: tuple, build):
    """The value ``build()`` returns, built once per ``key`` per SparkContext
    incarnation and returned from the memo on later calls.

    ``key[0]`` names the memo (hits and misses are counted per name in
    ``_MEMO_HITS`` / ``_MEMO_MISSES``); the rest tells its entries apart
    (``sf_dir``, chunk count, ...). Values may hold py4j references or
    name files a context wrote, so no entry outlives its context: the first
    miss under a new context drops every entry of the previous ones."""
    ctx = _context_token()
    full = (ctx, *key)
    if full in _MEMO:
        _MEMO_HITS[key[0]] += 1
        return _MEMO[full]
    _MEMO_MISSES[key[0]] += 1
    for k in [k for k in _MEMO if k[0] != ctx]:
        _MEMO.pop(k, None)
    value = _MEMO[full] = build()
    return value


@contextlib.contextmanager
def scoped_conf(spark: SparkSession, pairs: dict[str, str]):
    """Set each runtime conf in ``pairs`` for the ``with`` block, then put
    back what was there: the old value, or, for a key that had none, unset
    it so the default applies again. Restores on an exception too (the form
    of PySpark's ``SQLTestUtils.sql_conf``)."""
    old = {key: spark.conf.get(key, None) for key in pairs}
    for key, value in pairs.items():
        spark.conf.set(key, value)
    try:
        yield
    finally:
        for key, value in old.items():
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)
