"""Training-data pipeline operators over ``documents`` / ``embeddings``.

The reference's MapReduce algebra (SURVEY.md §2.1) is the classic substrate
for corpus preparation; this package provides the operators a 100 TB
LLM-data pipeline actually runs, Spark-first:

* ``dedup``      — exact (sha2 + keep-first), MinHash-LSH (banded, never
                   all-pairs), SimHash (byte-banded hamming), exact n-gram
                   Jaccard (prefix-filtered), cross-corpus n-gram
                   containment (benchmark decontamination). Duplicate-
                   cluster resolution is ``operators.graph.
                   connected_components`` over the pair graph.
* ``similarity`` — embedding cosine top-k: the brute-force baseline, and
                   IVF cells, single- and multi-probe RP-LSH buckets and PQ
                   shortlists as candidate steps of one exact-refine top-k
                   kernel; embedding-cosine near-dup dedup and SemDeDup.
* ``sampling``   — deterministic hash-bucket sampling, leakage-safe
                   train/val splits, per-source quotas, token-budget batch
                   packing.
* ``text``       — token stats, quality scoring, stopword-profile language
                   ID, positional fingerprints.
* ``multimodal`` — opaque binary payload columns with typed metadata and a
                   (stubbed) decode/feature-extract stage over mapInPandas.

Everything stays JVM-side (higher-order array functions, no Python UDFs)
except the dense linear-map hot spots (LSH projections, IVF assignment,
PQ encoding, multimodal decode), which are Arrow-batched numpy — the
vectorized-UDF path, never row-at-a-time Python.
"""

from irio_mapreduce_spark.llm import (  # noqa: F401
    dedup,
    multimodal,
    sampling,
    similarity,
    text,
)
