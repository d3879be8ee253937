"""Pipeline API parity tests against the reference's e2e contract.

Corpus = the 13 input files of the reference's end-to-end test
(``ClientTest.java:115-127``). The reference asserts one partition file's
exact bytes (bucket membership from C++ std::hash); per SURVEY.md §7 we
assert the portable contract instead: exact global result set, key
co-location across exactly r_num outputs, exactly-R-files sink.
"""

from __future__ import annotations

import collections
import glob
import os

import pytest
from pyspark.sql import functions as F

from irio_mapreduce_spark.pipeline import (
    BatchSpec,
    pipe_batch,
    submit_batch,
    wordcount_df,
)

# ClientTest.java:115-127, verbatim.
CORPUS = {
    "0": "a b c",
    "1": "d bi ooooooo c",
    "2": "d b beee c",
    "3": "d b beee beee  aaaa c",
    "4": "d affffffffff  ffc",
    "5": "a  j c j c j c j c j cj c",
    "6": "a beee c",
    "7": "a bbeee beee beee beee  c",
    "8": "a bbeee bee  e beee beee  c",
    "9": "a bbzzzz zzzzzzzzz beee  c",
    "10": "a bzzzz zzzzzzzzze beee  c",
    "11": "a bzzzz zzz zzzzzze beee  c",
    "12": "a bzzzzzzzz zzzzze beee  c",
}

EXPECTED = collections.Counter(
    w for line in CORPUS.values() for w in line.split()
)


@pytest.fixture(scope="module")
def corpus_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("wordcount_corpus")
    for fid, content in CORPUS.items():
        (d / fid).write_text(content + "\n")
    return str(d)


def test_wordcount_dataframe_mode(spark, corpus_dir, tmp_path):
    dest = str(tmp_path / "out_df")
    df = wordcount_df(spark, corpus_dir, dest_path=dest, r_num=3)
    got = {r["word"]: r["count"] for r in df.collect()}
    assert got == dict(EXPECTED)
    # Exactly r_num output files (reference r_num contract, common.proto:22).
    files = [f for f in glob.glob(os.path.join(dest, "part-*"))]
    assert len(files) == 3


def test_wordcount_key_colocation(spark, corpus_dir):
    """Reference README.md:41-42: all values of a key meet in one partition.
    (Exactly-R partitioning is a sink contract — asserted via file count in
    test_wordcount_dataframe_mode — so here only co-location is checked.)"""
    df = wordcount_df(spark, corpus_dir, r_num=3)
    with_pid = df.withColumn("pid", F.spark_partition_id())
    per_key = with_pid.groupBy("word").agg(F.countDistinct("pid").alias("n"))
    assert per_key.filter(F.col("n") > 1).count() == 0


def test_wordcount_pipe_mode(spark, corpus_dir, tmp_path):
    """Binary-compat mode: the map/reduce steps are line-level black boxes
    (Python callables standing in for the reference's map.cpp / reduce.cpp;
    shell-command steps go through the same RDD.pipe code path)."""

    def map_tokenize(line):  # mr-bins/map/map.cpp:16-23
        return [f"{w} 1" for w in line.split()]

    def reduce_sum(lines):  # mr-bins/reduce/reduce.cpp:9-40 (sorted output)
        acc = collections.Counter()
        for line in lines:
            if not line.strip():
                continue
            k, v = line.split()
            acc[k] += int(v)
        return (f"{k} {v}" for k, v in sorted(acc.items()))

    dest = str(tmp_path / "out_pipe")
    rdd = pipe_batch(
        spark,
        corpus_dir,
        dest,
        map_steps=[map_tokenize],
        reduce_steps=[reduce_sum],
        r_num=2,
    )
    got = dict(line.split() for line in rdd.collect())
    assert {k: int(v) for k, v in got.items()} == dict(EXPECTED)
    parts = glob.glob(os.path.join(dest, "part-*"))
    assert len(parts) == 2


def test_wordcount_pipe_external_binary(spark, corpus_dir):
    """A real fork/exec external command through RDD.pipe — the reference's
    native UDF model (ProcessBuilder, MapProcessor.java:69-79)."""
    rdd = pipe_batch(
        spark,
        corpus_dir,
        None,
        map_steps=["tr -s ' ' '\n'"],  # tokenize, one word per line
        reduce_steps=[],
        r_num=2,
        key_of=lambda line: line,
    )
    got = collections.Counter(w for w in rdd.collect() if w)
    assert got == EXPECTED


def test_pipe_batch_bucket_is_portable_hash_of_key(spark, corpus_dir, tmp_path):
    """The partition phase hashes the key with the builtin ``hash``; for a
    ``str`` key that must be the bucket ``partitionBy``'s default
    ``portable_hash`` gave, so every key's part file is unchanged. The
    expected bucket is computed in a worker: the driver's hash seed may
    differ from the one SparkContext gives its workers."""
    from pyspark.core.rdd import portable_hash

    r_num = 3
    dest = str(tmp_path / "out_buckets")
    pipe_batch(
        spark, corpus_dir, dest, map_steps=[lambda line: line.split()],
        reduce_steps=[], r_num=r_num,
    )
    got = {}
    for i in range(r_num):
        with open(os.path.join(dest, f"part-{i:05d}")) as f:
            for key in f.read().split():
                assert got.setdefault(key, i) == i, key
    assert set(got) == set(EXPECTED)
    expected = dict(
        spark.sparkContext.parallelize(sorted(got), 2)
        .map(lambda k: (k, portable_hash(k) % r_num))
        .collect()
    )
    assert got == expected


def test_pipe_batch_keying_needs_hash_seed(monkeypatch):
    """Without ``PYTHONHASHSEED`` a worker's ``hash`` of a str is random per
    process, so keys would scatter across buckets and task retries: the
    keying step refuses to run, as ``portable_hash`` did per record."""
    from pyspark.errors import PySparkRuntimeError

    from irio_mapreduce_spark.pipeline import _key_lines

    monkeypatch.setenv("PYTHONHASHSEED", "0")
    assert list(_key_lines(iter(["a 1", "b 2"]), lambda line: line[0])) == [
        ("a", "a 1"),
        ("b", "b 2"),
    ]
    monkeypatch.delenv("PYTHONHASHSEED")
    with pytest.raises(PySparkRuntimeError, match="PYTHON_HASH_SEED_NOT_SET"):
        _key_lines(iter(["a 1"]), lambda line: line[0])


def test_map_chain_and_partition_reduce_mode(spark, corpus_dir):
    """Chained map fns + reduce_mode='partition' (mapInPandas over
    co-located partitions — the faithful reducer model)."""
    import pandas as pd
    from pyspark.sql import types as T

    spec = BatchSpec(
        input_path=corpus_dir,
        input_format="text",
        map_fns=[
            lambda df: df.select(
                F.explode(F.split(F.trim(F.col("value")), r"\s+")).alias("word")
            ),
            lambda df: df.filter(F.col("word") != "").withColumn(
                "word", F.lower(F.col("word"))
            ),
        ],
        partition_key="word",
        r_num=4,
        reduce_mode="partition",
        reduce_fns=[
            lambda pdf: pdf.groupby("word", as_index=False)
            .size()
            .rename(columns={"size": "count"})
        ],
        reduce_schema=T.StructType(
            [
                T.StructField("word", T.StringType()),
                T.StructField("count", T.LongType()),
            ]
        ),
    )
    df = submit_batch(spark, spec)
    got = {r["word"]: r["count"] for r in df.collect()}
    assert got == dict(EXPECTED)
