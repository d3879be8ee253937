"""Seeded input generators for the benchmark.

Everything the benchmark runs on is generated here from ``--seed`` into
the run's work directory, so a run reads nothing outside its checkout:

* :func:`write_tables` writes the ten synthetic tables the catalog reads
  (``io.TABLES``), with the column names, types and value domains of the
  engine's TPC-H-like star schema.
* :func:`write_corpus` writes the ``mr_batch`` inputs: a directory of
  consecutively numbered text files of Zipf-skewed tokens (the reference's
  dataset model) and a ``kv_pairs`` parquet directory with skewed keys.
  It returns the expected word counts and per-key sums, computed here
  independently of Spark, for the correctness gate.
"""

from __future__ import annotations

import json
import os
from collections import Counter
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_DAY_US = 86_400_000_000
_EPOCH = np.datetime64("1970-01-01", "D")

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJECTIVES = ["blue", "cold", "hot", "new", "old", "red", "big", "dark"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()
DOC_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "window spark order data column join small line customer query big "
    "stream sort group filter vector"
).split()


def _days(lo: str, hi: str, n: int, rng: np.random.Generator) -> np.ndarray:
    """``n`` whole-day timestamps uniform in [lo, hi], as µs since epoch."""
    a = (np.datetime64(lo, "D") - _EPOCH).astype(np.int64)
    b = (np.datetime64(hi, "D") - _EPOCH).astype(np.int64)
    return rng.integers(a, b + 1, n) * _DAY_US


def _money(lo: float, hi: float, n: int, rng: np.random.Generator) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, pa.timestamp("us"))


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _choice(values: list[str], n: int, rng: np.random.Generator) -> np.ndarray:
    return np.array(values, dtype=object)[rng.integers(0, len(values), n)]


def make_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """The ten catalog tables at scale factor ``sf`` (lineitem ≈ 6M·sf rows)."""
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_ev = max(1000, int(1_000_000 * sf))
    n_user = max(150, int(15_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(-999.99, 9999.99, n_cust, rng),
        "c_mktsegment": _choice(SEGMENTS, n_cust, rng),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(-999.99, 9999.99, n_supp, rng),
    })
    names = [f"{a} {b}" for a in ADJECTIVES for b in NOUNS]
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": _choice(names, n_part, rng),
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": _choice(PART_TYPES, n_part, rng),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": rng.integers(9000, 10000, n_part) / 10.0,
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _choice(["F", "O", "P"], n_ord, rng),
        "o_totalprice": _money(1000.0, 500000.0, n_ord, rng),
        "o_orderdate": _ts(_days("1995-01-01", "2001-08-01", n_ord, rng)),
        "o_orderpriority": _choice(PRIORITIES, n_ord, rng),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(900.0, 105000.0, n_line, rng),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _choice(["A", "N", "R"], n_line, rng),
        "l_linestatus": _choice(["F", "O"], n_line, rng),
        "l_shipdate": _ts(_days("1995-01-02", "2001-11-04", n_line, rng)),
    })
    start = (np.datetime64("2024-01-01", "D") - _EPOCH).astype(np.int64) * _DAY_US
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(np.sort(start + rng.integers(0, 30 * _DAY_US, n_ev))),
        "user_id": rng.integers(0, n_user, n_ev),
        "event_type": _choice(EVENT_TYPES, n_ev, rng),
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    words = np.array(DOC_WORDS, dtype=object)
    texts = [
        " ".join(words[rng.integers(0, len(words), int(n))])
        for n in rng.integers(8, 80, n_doc)
    ]
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": _choice(LANGS, n_doc, rng),
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })
    vecs = rng.normal(size=(n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.ravel()), 64
        ).cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    })
    return t


def write_tables(sf_dir: str, sf: float, seed: int) -> int:
    """Write the tables as ``<sf_dir>/<name>.parquet``; returns total bytes."""
    os.makedirs(sf_dir, exist_ok=True)
    total = 0
    for name, table in make_tables(sf, seed).items():
        path = os.path.join(sf_dir, f"{name}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total


@dataclass
class Corpus:
    """The ``mr_batch`` inputs and their independently computed answers."""

    root: str  # storage root; the text corpus is directory id "0"
    text_dir: str
    kv_dir: str
    files: int
    input_bytes: int
    words: Counter
    kv_sums: dict[str, tuple[int, int]]  # key -> (count, sum of values)


def write_corpus(root: str, seed: int, mb: float, n_files: int) -> Corpus:
    """About ``mb`` MB of Zipf-skewed text in ``n_files`` numbered files,
    plus a parquet ``kv_pairs`` directory whose keys are Zipf-skewed too."""
    rng = np.random.default_rng(seed + 1)
    vocab_size = 20_000
    vocab = np.array(
        [f"w{np.base_repr(i * 7919 + 11, 36).lower()}" for i in range(vocab_size)]
    )
    # mean token ≈ 5 characters + one separator
    n_tokens = int(mb * 1e6 / 6)
    ids = rng.choice(vocab_size, size=n_tokens, p=_zipf(vocab_size, 1.1))
    tokens = vocab[ids]
    text_dir = os.path.join(root, "0")
    os.makedirs(text_dir, exist_ok=True)
    per_line = 12
    input_bytes = 0
    for f, chunk in enumerate(np.array_split(tokens, n_files)):
        lines = [
            " ".join(chunk[i : i + per_line]) for i in range(0, len(chunk), per_line)
        ]
        path = os.path.join(text_dir, str(f))
        with open(path, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        input_bytes += os.path.getsize(path)
    counts = np.bincount(ids, minlength=vocab_size)
    words = Counter({vocab[i]: int(c) for i, c in enumerate(counts) if c})

    n_kv, n_keys = n_tokens // 4, 300
    keys = rng.choice(n_keys, size=n_kv, p=_zipf(n_keys, 1.2))
    values = rng.integers(1, 1000, n_kv)
    kv_dir = os.path.join(root, "kv_pairs")
    os.makedirs(kv_dir, exist_ok=True)
    key_names = np.array([f"k{i}" for i in range(n_keys)])
    for f, part in enumerate(np.array_split(np.arange(n_kv), n_files // 2 or 1)):
        path = os.path.join(kv_dir, f"part-{f:05d}.parquet")
        pq.write_table(
            pa.table({"key": key_names[keys[part]], "value": values[part]}), path
        )
        input_bytes += os.path.getsize(path)
    n = np.bincount(keys, minlength=len(key_names))
    s = np.bincount(keys, weights=values, minlength=len(key_names))
    kv_sums = {
        key_names[i]: (int(n[i]), int(s[i])) for i in np.nonzero(n)[0]
    }
    return Corpus(root, text_dir, kv_dir, n_files, input_bytes, words, kv_sums)


def _zipf(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


def batch_json(dest_id: str, split_count: int, r_num: int) -> str:
    """The reference's JSON batch file for the ``RDD.pipe`` wordcount."""
    return json.dumps({
        "map_bin_ids": [0],
        "partition_bin_id": 1,
        "reduce_bin_ids": [2],
        "input_id": "0",
        "final_dest_dir_id": dest_id,
        "split_count": split_count,
        "r_num": r_num,
    })
