"""The benchmark's workloads: the jobs of one pass, and the correctness
gate that checks their outputs after the timed passes.

A job is a name and a callable ``run(spark, out_dir) -> handle``. The
runner times the call; the handle is what the gate checks. Catalog jobs
split into a construct phase (``fn(spark, sf_dir)``) and an execute phase
(``collect()``: the results are a few hundred rows at most, so this costs
what a ``noop`` write does, and the gate checks the collected rows
without running the plan again); the ``mr_batch`` jobs are one call each
into the layer's public function, sink write included.
"""

from __future__ import annotations

import collections
import glob
import os
from dataclasses import dataclass
from typing import Callable

import duckdb

import gen
from tracing import catalyst_phases

ITERATIVE_TAIL = [
    "graph_pagerank_purchases",
    "graph_sssp_weighted",
    "stream_stateful_dedup",
]

R_NUM = 8


@dataclass
class Job:
    name: str
    run: Callable  # (spark, out_dir) -> handle
    check: Callable  # (spark, handle) -> list of mismatch messages


@dataclass
class Sizes:
    sf: float  # catalog tables
    corpus_mb: float  # mr_batch text corpus
    corpus_files: int


FULL = Sizes(sf=0.001, corpus_mb=2.0, corpus_files=16)
SMOKE = Sizes(sf=0.001, corpus_mb=0.2, corpus_files=4)


# ---------------------------------------------------------------------------
# Catalog jobs (iterative_tail)
# ---------------------------------------------------------------------------


def catalog_jobs(names: list[str], sf_dir: str, tracer) -> list[Job]:
    from irio_mapreduce_spark import queries as catalog

    fns, oracles = catalog.all_queries(), catalog.all_oracles()
    duck = duckdb.connect()
    for t in gen.TABLES:
        duck.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    def job(name: str) -> Job:
        fn = fns[name]

        def run(spark, out_dir):
            with tracer.span("construct") as sp:
                df = fn(spark, sf_dir)
                if sp is not None:
                    sp.update(catalyst_phases(df))
            with tracer.span("execute"):
                rows = df.collect()
            return Collected(df.columns, rows)

        def check(spark, result):
            return compare_with_oracle(result, duck, oracles[name])

        return Job(name, run, check)

    return [job(n) for n in names]


class Collected:
    """A job's collected rows, with the two DataFrame members the oracle
    comparison uses."""

    def __init__(self, columns: list[str], rows: list) -> None:
        self.columns = columns
        self._rows = rows

    def collect(self) -> list:
        return self._rows


def compare_with_oracle(spark_df, duck, sql: str) -> list[str]:
    """The test suite's oracle protocol (``tests/conftest.py``: columns by
    name, rows sorted, canonical rounding); returns the mismatch found."""
    from tests.conftest import compare_with_oracle as check

    try:
        check(spark_df, duck, sql)
    except AssertionError as e:
        return [str(e)]
    return []


# ---------------------------------------------------------------------------
# mr_batch jobs
# ---------------------------------------------------------------------------


def _map_tokenize(line: str) -> list[str]:
    return [f"{w} 1" for w in line.split()]


def _reduce_sum(lines):
    acc = collections.Counter()
    for line in lines:
        if line.strip():
            k, v = line.split()
            acc[k] += int(v)
    return (f"{k} {v}" for k, v in sorted(acc.items()))


def _reduce_key_group(pdf):
    import pandas as pd

    return pd.DataFrame({
        "key": [pdf["key"].iloc[0]],
        "n": [len(pdf)],
        "total": [int(pdf["value"].sum())],
    })


def part_files(dest: str) -> list[str]:
    return sorted(
        f for f in glob.glob(os.path.join(dest, "part-*")) if not f.endswith(".crc")
    )


def _check_files(dest: str) -> list[str]:
    n = len(part_files(dest))
    return [] if n == R_NUM else [f"{dest}: {n} files, r_num={R_NUM}"]


def _diff(got: dict, want: dict, what: str) -> list[str]:
    if got == want:
        return []
    keys = set(got) ^ set(want) or {k for k in got if got[k] != want[k]}
    k = sorted(keys)[0]
    return [f"{what}: {len(keys)} keys differ; e.g. {k}: {got.get(k)} != {want.get(k)}"]


def read_word_counts(dest: str, sep: str) -> dict:
    out = {}
    for f in part_files(dest):
        with open(f) as fh:
            for line in fh:
                if line.strip():
                    k, v = line.rstrip("\n").split(sep)
                    out[k] = int(v)
    return out


def read_kv_sums(dest: str) -> dict:
    import pyarrow.parquet as pq

    out = {}
    for f in part_files(dest):
        t = pq.read_table(f).to_pydict()
        for k, n, s in zip(t["key"], t["n"], t["total"]):
            out[k] = (n, s)
    return out


def mr_jobs(corpus: gen.Corpus, tracer) -> list[Job]:
    from irio_mapreduce_spark import batch_json, pipeline

    words = dict(corpus.words)

    def wordcount(spark, out_dir):
        dest = os.path.join(out_dir, "wordcount_df")
        with tracer.span("execute"):
            pipeline.wordcount_df(spark, corpus.text_dir, dest, r_num=R_NUM)
        return dest

    def check_wordcount(spark, dest):
        return _check_files(dest) + _diff(read_word_counts(dest, ","), words, "wordcount_df")

    def kv_reduce(spark, out_dir):
        dest = os.path.join(out_dir, "kv_partition")
        spec = pipeline.BatchSpec(
            input_path=corpus.kv_dir,
            dest_path=dest,
            partition_key="key",
            r_num=R_NUM,
            reduce_mode="partition",
            reduce_fns=[_reduce_key_group],
            reduce_schema="key string, n long, total long",
        )
        with tracer.span("execute"):
            pipeline.submit_batch(spark, spec)
        return dest

    def check_kv(spark, dest):
        return _check_files(dest) + _diff(read_kv_sums(dest), corpus.kv_sums, "kv_partition")

    def json_pipe(spark, out_dir):
        dest_id = f"{os.path.basename(out_dir)}_json_pipe"
        registry = (
            batch_json.BinaryRegistry(corpus.root)
            .put(0, _map_tokenize)
            .put(2, _reduce_sum)
        )
        batch = gen.batch_json(dest_id, split_count=corpus.files, r_num=R_NUM)
        with tracer.span("execute"):
            batch_json.submit_json_batch(spark, corpus.root, batch, registry)
        return os.path.join(corpus.root, dest_id)

    def check_pipe(spark, dest):
        return _check_files(dest) + _diff(read_word_counts(dest, " "), words, "json_pipe")

    return [
        Job("wordcount_df", wordcount, check_wordcount),
        Job("submit_batch_partition", kv_reduce, check_kv),
        Job("submit_json_batch", json_pipe, check_pipe),
    ]
