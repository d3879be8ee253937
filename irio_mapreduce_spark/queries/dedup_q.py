"""Deduplication catalog queries over ``documents`` (SURVEY.md §2.2
LLM-data-pipeline table). Exact + n-gram Jaccard are fully oracle-checked;
MinHash-LSH verifies its candidates with exact Jaccard so its output is
deterministic and oracle-checked too (the LSH stage only risks *recall*,
which the band math makes ~1 at the threshold — see
``llm.dedup.near_dup_pairs_minhash``); SimHash's natural-corpus hamming
values are engine-specific (64-bit xxhash), so its entry is a planted
formatting-variant recall harness whose expected output IS SQL-expressible
(see ``dedup_simhash``), with the engine-specific behavior property-tested
in tests/test_llm.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from irio_mapreduce_spark.io import read_table
from irio_mapreduce_spark.llm.dedup import (
    bloom_prefiltered_new,
    build_incremental_index,
    duplicate_substring_spans,
    exact_dedup,
    incremental_dedup,
    incremental_dedup_persisted,
    incremental_index_is_committed,
    near_dup_pairs_minhash,
    ngram_containment_pairs,
    ngram_jaccard_pairs,
    simhash_near_pairs,
    tokens,
)
from irio_mapreduce_spark.llm.sampling import train_val_split
from irio_mapreduce_spark.llm.similarity import as_double
from irio_mapreduce_spark.llm.similarity import (
    dedup_embedding_cosine as dedup_embedding_cosine_op,
)
from irio_mapreduce_spark.llm.similarity import semdedup as semdedup_op
from irio_mapreduce_spark.operators.barrier import barrier
from irio_mapreduce_spark.operators.graph import connected_components
from irio_mapreduce_spark.queries.catalog import register

# Shared DuckDB fragment: distinct word trigrams per document, matching
# llm.dedup.shingles(tokens(text), 3).
_DUCK_TRIGRAMS = """
    toks AS (SELECT doc_id,
                    list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                                t -> t <> '') AS t
             FROM documents),
    sh AS (SELECT doc_id,
                  list_distinct(list_transform(generate_series(1, len(t) - 2),
                                               i -> array_to_string(t[i:i+2], ' '))) AS s
           FROM toks)
"""


@register(
    "dedup_exact_sha",
    oracle="""
    SELECT doc_id, fp FROM (
      SELECT doc_id, sha256(text) AS fp,
             row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn
      FROM documents)
    WHERE rn = 1
    """,
)
def dedup_exact_sha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: fingerprint = sha2(text, 256), keep lowest doc_id per
    fingerprint. The shuffle key is the 32-byte hash, never the document —
    the group-by carries O(n·32B) regardless of document size."""
    docs = read_table(spark, sf_dir, "documents")
    return exact_dedup(
        docs.select("doc_id", "text"),
        fingerprint=F.sha2(F.col("text"), 256),
        order_by=[F.col("doc_id")],
        keep_fp_col="fp",
    ).select("doc_id", "fp")


@register(
    "dedup_exact_prefix",
    oracle="""
    SELECT doc_id, lang, source FROM (
      SELECT doc_id, lang, source,
             row_number() OVER (
               PARTITION BY array_to_string(
                 list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                             t -> t <> '')[1:8], ' ')
               ORDER BY doc_id) AS rn
      FROM documents)
    WHERE rn = 1
    """,
)
def dedup_exact_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-first dedup on an 8-token prefix fingerprint — the cheap
    first-pass near-dedup (catches templated/boilerplate openings).
    Drops real rows on this corpus (500 -> 476 at sf0.01)."""
    docs = read_table(spark, sf_dir, "documents")
    prefix = F.concat_ws(" ", F.slice(tokens(F.col("text")), 1, 8))
    return exact_dedup(
        docs.select("doc_id", "lang", "source", "text"),
        fingerprint=prefix,
        order_by=[F.col("doc_id")],
    ).select("doc_id", "lang", "source")


_DUCK_JACCARD_PAIRS = f"""
    WITH {_DUCK_TRIGRAMS},
    ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
    pairs AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
              FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
    sizes AS (SELECT doc_id, len(s) AS n FROM sh)
    SELECT id1, id2,
           round(inter * 1.0 / (s1.n + s2.n - inter), 6) AS jaccard
    FROM pairs
      JOIN sizes s1 ON id1 = s1.doc_id
      JOIN sizes s2 ON id2 = s2.doc_id
    WHERE inter * 1.0 / (s1.n + s2.n - inter) >= 0.8
"""


@register("dedup_minhash_lsh", oracle=_DUCK_JACCARD_PAIRS)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dedup via banded MinHash-LSH (128 hashes, 32 bands of 4) with
    exact-Jaccard verification of candidates at threshold 0.8.

    Oracle = brute-force exact Jaccard: valid because precision is 1 by
    construction (exact re-check) and recall at J>=0.8 is 1-(1-0.8^4)^32
    ≈ 1-6e-9 per pair — and the pipeline is fully deterministic (fixed
    xxhash64 seeds), so a local pass implies a driver pass on the same
    data. The LSH path's value is doing this WITHOUT the O(n²) join the
    oracle runs: candidates come from band-bucket collisions only.

    This entry runs with ``max_bucket_size=None`` (the default): the bucket
    cap is a recall valve that would silently drop every pair inside a
    >cap-sized near-identical cluster, breaking the exactness claim — see
    ``llm.dedup.minhash_lsh_pairs`` for when to enable it.
    """
    docs = read_table(spark, sf_dir, "documents")
    return near_dup_pairs_minhash(
        docs, "doc_id", "text", n=3, threshold=0.8, num_hashes=128, bands=32
    )


@register("dedup_ngram_jaccard", oracle=_DUCK_JACCARD_PAIRS)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT trigram-Jaccard near-dup pairs (>= 0.8) via prefix filtering
    (llm.dedup.ngram_jaccard_pairs): only each document's rarest-first
    ~(1-t) shingle prefix is indexed and self-joined, then candidates are
    verified with exact set intersection — provably the same output as the
    naive inverted-index join, without its O(df²) blow-up on shared
    boilerplate shingles."""
    docs = read_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.8)


@register(
    "dedup_embedding_cosine",
    oracle="""
    WITH corpus AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      UNION ALL
      SELECT vec_id + 10000, list_transform(embedding::DOUBLE[], x -> x * 0.5)
      FROM embeddings
    )
    SELECT e.vec_id FROM corpus e
    WHERE NOT EXISTS (
      SELECT 1 FROM corpus o
      WHERE o.vec_id < e.vec_id
        AND list_cosine_similarity(o.v, e.v) >= 0.99
    )
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup dedup: keep rows with no lower-id neighbor
    at cosine >= 0.99; candidates from the multi-table RP-LSH bucket join,
    exact cosine verify, one anti-join (llm.similarity.dedup_embedding_cosine).

    The corpus plants a scale-variant duplicate of every vector (0.5·v
    under vec_id+10000) — byte-different, so sha-based exact dedup cannot
    see it; cosine dedup must. The oracle is the brute-force NOT EXISTS
    sweep. Exactness argument: (a) positive scaling never flips a
    hyperplane-projection sign (x*0.5 is exact IEEE scaling), so every
    planted pair shares ALL LSH buckets — recall 1 by construction, no
    banding probability involved; (b) the original corpus's max pairwise
    cosine is ~0.6 (verified at sf0.01/0.1), far from the 0.99 threshold,
    so both engines agree on every keep/drop decision with no
    float-boundary risk."""
    emb = read_table(spark, sf_dir, "embeddings")
    orig = emb.select("vec_id", as_double(F.col("embedding")).alias("v"))
    copies = emb.select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.transform(as_double(F.col("embedding")), lambda x: x * 0.5).alias("v"),
    )
    corpus = orig.unionByName(copies)
    return dedup_embedding_cosine_op(
        corpus, "v", "vec_id", threshold=0.99, n_tables=8, planes_per_table=16,
        dim=64, seed=42,
    ).select("vec_id")


@register(
    "dedup_cluster_components",
    oracle=f"""
    WITH RECURSIVE {_DUCK_TRIGRAMS},
    ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
    cand AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
             FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
             GROUP BY 1, 2),
    sizes AS (SELECT doc_id, len(s) AS n FROM sh),
    jp AS (SELECT id1, id2
           FROM cand
             JOIN sizes s1 ON id1 = s1.doc_id
             JOIN sizes s2 ON id2 = s2.doc_id
           WHERE inter * 1.0 / (s1.n + s2.n - inter) >= 0.8),
    e AS (SELECT id1 AS u, id2 AS v FROM jp
          UNION SELECT id2, id1 FROM jp),
    reach(id, r) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.v, reach.r FROM reach JOIN e ON e.u = reach.id
    )
    SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id
    """,
)
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-CLUSTER resolution: near-dup pairs (exact trigram Jaccard
    >= 0.8, same pair generation as ``dedup_ngram_jaccard``) -> connected
    components by iterative min-label propagation -> every document labeled
    with its cluster representative (min reachable doc_id; singletons label
    themselves). Pairs only say "a dups b"; dedup at corpus scale keeps ONE
    doc per transitive cluster, which is exactly the component map — filter
    ``doc_id == component`` for the keep-list.

    This is the catalog's genuinely-iterative operator (no fixed-depth SQL
    equivalent); the oracle is a DuckDB RECURSIVE CTE computing the same
    fixpoint, so even the iteration is hash-checked, not rows-only.
    """
    docs = read_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.8)
    return connected_components(
        pairs, "id1", "id2", nodes=docs.select("doc_id"), id_col="doc_id"
    )


_SIMHASH_PLANT_OFFSET = 100000


@register(
    "dedup_simhash",
    oracle=f"""
    SELECT doc_id AS id1,
           doc_id + {_SIMHASH_PLANT_OFFSET} AS id2,
           0 AS hamming
    FROM documents
    WHERE len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                          t -> t <> '')) >= 3
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash (over trigram shingles) near-dup pairs via the 8-byte
    pigeonhole band join (never all-pairs), made driver-checkable with a
    planted-duplicate recall harness (the r3 advice shape): every document
    gets a FORMATTING-VARIANT copy planted under ``doc_id + offset`` —
    uppercased, whitespace-doubled — which tokenization provably
    normalizes to the identical shingle set, hence the identical 64-bit
    SimHash, hence hamming 0. The full pipeline (tokenize -> shingle ->
    signature -> band join -> exact hamming) MUST therefore emit every
    planted pair, and the oracle enumerates exactly those pairs in SQL:
    a missed pair (recall bug), phantom pair, or nonzero hamming
    (normalization bug) breaks the row/hash match. This is the SimHash
    dedup use-case at its sharpest: byte-different boilerplate reformats
    that sha-exact dedup cannot see.

    Output is restricted to planted pairs because natural-corpus hamming
    values hang off engine-specific xxhash64 bit patterns (no SQL oracle
    can reproduce them); natural near-pair behavior (hamming monotonicity,
    separation of unrelated docs, the <=7 pigeonhole recall cap) is
    property-tested in tests/test_llm.py. Documents with fewer than 3
    tokens have an empty shingle set (no signature row) on both sides."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    variants = docs.select(
        (F.col("doc_id") + _SIMHASH_PLANT_OFFSET).alias("doc_id"),
        F.upper(F.regexp_replace("text", " ", "  ")).alias("text"),
    )
    target = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    pairs = simhash_near_pairs(
        docs.unionByName(variants),
        "doc_id",
        "text",
        max_hamming=3,
        # union-shaped input: pass the width explicitly (widen's
        # partition-count probe is expensive on multi-branch plans)
        target_partitions=target,
    )
    return pairs.filter(
        (F.col("id2") - F.col("id1") == _SIMHASH_PLANT_OFFSET)
        & (F.col("id1") < _SIMHASH_PLANT_OFFSET)
    ).select("id1", "id2", "hamming")


@register(
    "text_decontamination",
    oracle="""
    WITH toks AS (SELECT doc_id,
                         list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                                     t -> t <> '') AS t
                  FROM documents),
    sh5 AS (SELECT doc_id,
                   list_distinct(list_transform(generate_series(1, len(t) - 4),
                                                i -> array_to_string(t[i:i+4], ' '))) AS s
            FROM toks),
    b AS (SELECT doc_id,
                 (('0x' || substr(md5(doc_id::VARCHAR || '|split'), 1, 8))::BIGINT
                  % 100) AS bk
          FROM documents),
    cx AS (SELECT s.doc_id, unnest(s.s) AS g
           FROM sh5 s JOIN b USING (doc_id) WHERE b.bk < 90),
    px AS (SELECT s.doc_id, len(s.s) AS np, unnest(s.s) AS g
           FROM sh5 s JOIN b USING (doc_id) WHERE b.bk >= 90),
    hits AS (SELECT cx.doc_id AS corpus_id, px.doc_id AS probe_id,
                    max(px.np) AS np, count(*) AS inter
             FROM cx JOIN px USING (g)
             GROUP BY 1, 2)
    SELECT corpus_id, probe_id,
           round(inter * 1.0 / np, 6) AS containment
    FROM hits
    WHERE inter * 1.0 / np >= 0.5
    """,
)
def text_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark DECONTAMINATION: split documents 90/10 into train/eval by
    hash (the same leakage-safe split as ``sample_train_val_split``), then
    flag train docs containing >= 50% of an eval doc's distinct word
    5-grams (``llm.dedup.ngram_containment_pairs``). Asymmetric
    containment — not Jaccard — because a short eval item buried in a long
    training document is exactly the leak dedup misses. The probe side is
    exploded in full (benchmarks are small by construction); the train
    side contributes one inverted-index row per (doc, shingle), never a
    pairwise product."""
    docs = read_table(spark, sf_dir, "documents")
    tagged = train_val_split(docs, ["doc_id"], val_pct=10, salt="split")
    return ngram_containment_pairs(
        tagged.filter(F.col("split") == "train"),
        tagged.filter(F.col("split") == "val"),
        "doc_id",
        "text",
        n=5,
        threshold=0.5,
    )


# Shared brute-force oracle of the two incremental-dedup entries (identical
# semantics: NOT EXISTS on sha256 + exact trigram Jaccard vs the corpus) —
# one definition so a future edge-case fix cannot diverge between them.
_INCR_DEDUP_ORACLE = """
    WITH batch AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
    corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0
               UNION ALL
               SELECT doc_id + 100000, text FROM documents WHERE doc_id % 20 = 0),
    bt AS (SELECT doc_id,
                  list_distinct(list_transform(
                    generate_series(1, len(list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '')) - 2),
                    i -> array_to_string(list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '')[i:i+2], ' '))) AS s,
                  sha256(text) AS fp
           FROM batch),
    ct AS (SELECT doc_id,
                  list_distinct(list_transform(
                    generate_series(1, len(list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '')) - 2),
                    i -> array_to_string(list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '')[i:i+2], ' '))) AS s,
                  sha256(text) AS fp
           FROM corpus),
    dup AS (SELECT DISTINCT b.doc_id
            FROM bt b, ct c
            WHERE c.fp = b.fp
               OR len(list_intersect(c.s, b.s)) * 1.0
                  / (len(c.s) + len(b.s) - len(list_intersect(c.s, b.s))) >= 0.8)
    SELECT doc_id FROM bt WHERE doc_id NOT IN (SELECT doc_id FROM dup)
"""


@register(
    "dedup_incremental_batch",
    oracle=_INCR_DEDUP_ORACLE,
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL dedup — a new ingest batch (doc_id % 10 == 0) deduped
    against the standing corpus (the rest, plus planted verbatim copies of
    half the batch under shifted ids, so the exact pass demonstrably
    fires; the corpus's natural near-dup clusters exercise the LSH pass).
    The corpus is indexed and probed, never self-joined — the production
    daily-ingest topology (llm.dedup.incremental_dedup). Oracle: brute-
    force NOT EXISTS on sha256 and exact trigram Jaccard vs the corpus."""
    docs = read_table(spark, sf_dir, "documents")
    corpus, batch = _ingest_split(docs)
    return incremental_dedup(corpus, batch, "doc_id", "text").select("doc_id")


def _ingest_split(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The shared ingest fixture of the incremental-dedup entries: batch =
    doc_id % 10 == 0; corpus = the rest plus planted verbatim copies of
    half the batch under shifted ids."""
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    planted = docs.filter(F.col("doc_id") % 20 == 0).withColumn(
        "doc_id", F.col("doc_id") + 100000
    )
    corpus = docs.filter(F.col("doc_id") % 10 != 0).unionByName(planted)
    return corpus, batch


def _corpus_stamp(sf_dir: str) -> str:
    """Fingerprint of the ``documents`` input (``llm.artifacts.input_stamp``)
    — baked into the persisted-index key so regenerated data at the same
    scale factor can never silently reuse a stale index."""
    import os

    from irio_mapreduce_spark.llm.artifacts import input_stamp

    return input_stamp(os.path.join(sf_dir, "documents.parquet"))


@register(
    "dedup_incremental_persisted",
    oracle=_INCR_DEDUP_ORACLE,
)
def dedup_incremental_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STEADY-STATE incremental dedup: identical semantics (and oracle) to
    ``dedup_incremental_batch``, but the corpus index is a PERSISTED
    parquet artifact (``llm.dedup.build_incremental_index``) built once
    per corpus version and scanned thereafter — each ingest run pays only
    the batch-side compute plus the probe joins; no corpus
    re-tokenization or shingle recompute appears in the probe plan
    (tests/test_llm.py asserts the plan reads the index files). This is
    the production path the per-run-rebuild entry's docstring promises;
    the index lands under the repo's gitignored ``spark-warehouse/``
    keyed by format version, scale factor AND a stat-fingerprint of the
    input data (regenerated data never reuses a stale index), with the
    index's ``_COMMITTED`` manifest gating reuse (a torn build or torn
    REBUILD is rebuilt, never read)."""
    import os

    docs = read_table(spark, sf_dir, "documents")
    corpus, batch = _ingest_split(docs)
    root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    idx_dir = os.path.join(
        root,
        "spark-warehouse",
        "incr_dedup_idx_v2_"
        f"{os.path.basename(os.path.normpath(sf_dir))}_{_corpus_stamp(sf_dir)}",
    )
    if not incremental_index_is_committed(idx_dir):
        build_incremental_index(corpus, "doc_id", "text", idx_dir)
    return incremental_dedup_persisted(
        idx_dir, batch, "doc_id", "text"
    ).select("doc_id")


@register(
    "dedup_bloom_prefilter",
    oracle="""
    WITH batch AS (SELECT doc_id, sha256(text) AS fp FROM documents
                   WHERE doc_id % 10 = 0),
    corpus AS (SELECT sha256(text) AS fp FROM documents WHERE doc_id % 10 <> 0
               UNION ALL
               SELECT sha256(text) FROM documents WHERE doc_id % 20 = 0)
    SELECT doc_id FROM batch
    WHERE fp NOT IN (SELECT fp FROM corpus)
    """,
)
def dedup_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered exact membership dedup: the ingest batch
    (doc_id % 10 == 0) probes a distributed-built Bloom sketch of the
    corpus's sha256 fingerprints; only "maybe duplicate" rows pay the anti-join
    (planted verbatim copies of half the batch guarantee true hits; the
    sketch's false positives are re-checked exactly, so the output is
    bit-identical to the plain anti-join the oracle runs). See
    ``llm.dedup.bloom_prefiltered_new`` for the 100 TB rationale — the
    sketch is the persistable corpus summary, the join input shrinks to
    |dups| + fpp*|batch|."""
    docs = read_table(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    planted = docs.filter(F.col("doc_id") % 20 == 0).withColumn(
        "doc_id", F.col("doc_id") + 100000
    )
    corpus = docs.filter(F.col("doc_id") % 10 != 0).unionByName(planted)
    new_rows = bloom_prefiltered_new(
        corpus.select("doc_id", "text"),
        batch.select("doc_id", "text"),
        fingerprint=F.sha2(F.col("text"), 256),
        expected_items=100_000,
    )
    return new_rows.select("doc_id")


@register(
    "dedup_substring_spans",
    oracle="""
    WITH toks AS (SELECT doc_id,
                         list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                                     t -> t <> '') AS t
                  FROM documents),
    tl AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) >= 8),
    idx AS (SELECT doc_id, t, n, unnest(generate_series(1, n - 7)) AS i FROM tl),
    win AS (SELECT doc_id, n, i, array_to_string(t[i:i+7], ' ') AS w FROM idx),
    dupw AS (SELECT w FROM win GROUP BY w HAVING min(doc_id) <> max(doc_id)),
    pos AS (SELECT doc_id, n, i FROM win WHERE w IN (SELECT w FROM dupw)),
    mk AS (SELECT doc_id, n, i,
                  lag(i) OVER (PARTITION BY doc_id ORDER BY i) AS prev
           FROM pos),
    isl AS (SELECT doc_id, n, i,
                   sum(CASE WHEN prev IS NULL OR i - prev > 8 THEN 1 ELSE 0 END)
                     OVER (PARTITION BY doc_id ORDER BY i) AS island
            FROM mk),
    spans AS (SELECT doc_id, n, island, min(i) AS s, max(i) + 7 AS e
              FROM isl GROUP BY 1, 2, 3)
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(sum(e - s + 1) AS BIGINT) AS dup_tokens
    FROM spans GROUP BY doc_id, n
    """,
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate-substring detection (Lee et al. 2021 restated
    Spark-first): 8-token sliding grams fingerprinted with xxhash64, grams
    present in >= 2 distinct documents merged per-document into maximal
    spans (gap-and-islands window). Output is the per-document duplicated
    span census a curation pipeline thresholds on. The oracle recomputes
    the identical span algebra on the gram STRINGS — agreement also
    certifies the 64-bit fingerprint path collision-free on this corpus.
    See ``llm.dedup.duplicate_substring_spans`` for the shuffle budget
    (two 8-byte-key shuffles + one per-doc window)."""
    docs = read_table(spark, sf_dir, "documents")
    return duplicate_substring_spans(
        docs.select("doc_id", "text"), "doc_id", "text", window=8
    )


@register(
    "dedup_cluster_pick_best",
    oracle=f"""
    WITH RECURSIVE {_DUCK_TRIGRAMS},
    ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
    cand AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
             FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
             GROUP BY 1, 2),
    sizes AS (SELECT doc_id, len(s) AS n FROM sh),
    jp AS (SELECT id1, id2
           FROM cand
             JOIN sizes s1 ON id1 = s1.doc_id
             JOIN sizes s2 ON id2 = s2.doc_id
           WHERE inter * 1.0 / (s1.n + s2.n - inter) >= 0.8),
    e AS (SELECT id1 AS u, id2 AS v FROM jp
          UNION SELECT id2, id1 FROM jp),
    reach(id, r) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.v, reach.r FROM reach JOIN e ON e.u = reach.id
    ),
    comp AS (SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id),
    tct AS (SELECT doc_id, len(t) AS n_tokens FROM toks),
    ranked AS (
      SELECT c.component, c.doc_id, t.n_tokens,
             row_number() OVER (PARTITION BY c.component
                                ORDER BY t.n_tokens DESC, c.doc_id) AS rk,
             count(*) OVER (PARTITION BY c.component) AS n_members
      FROM comp c JOIN tct t USING (doc_id))
    SELECT component, doc_id AS kept_doc_id,
           CAST(n_tokens AS BIGINT) AS kept_n_tokens,
           CAST(n_members AS BIGINT) AS n_members
    FROM ranked WHERE rk = 1 AND n_members >= 2
    """,
)
def dedup_cluster_pick_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Representative selection — the step AFTER duplicate clustering:
    within each non-singleton near-dup cluster (same component map as
    ``dedup_cluster_components``), keep the best copy by a deterministic
    integer quality signal (longest document, doc_id tie-break — the
    'keep longest' heuristic real pipelines default to). One window over
    the component partitioning on top of the iterative component map;
    singleton clusters are excluded (nothing to pick between). Output is
    the cluster keep-list a curation run would anti-join against."""
    docs = read_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.8)
    comp = connected_components(
        pairs, "id1", "id2", nodes=docs.select("doc_id"), id_col="doc_id"
    )
    from pyspark.sql import Window

    toks = docs.select("doc_id", F.size(tokens(F.col("text"))).alias("n_tokens"))
    ranked = (
        comp.join(toks, "doc_id")
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("component").orderBy(
                    F.desc("n_tokens"), F.asc("doc_id")
                )
            ),
        )
        .withColumn(
            "n_members", F.count("*").over(Window.partitionBy("component"))
        )
    )
    return ranked.filter((F.col("rk") == 1) & (F.col("n_members") >= 2)).select(
        "component",
        F.col("doc_id").alias("kept_doc_id"),
        F.col("n_tokens").cast("long").alias("kept_n_tokens"),
        F.col("n_members").cast("long").alias("n_members"),
    )


@register(
    "dedup_semdedup_clusters",
    oracle="""
    WITH corpus AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      UNION ALL
      SELECT vec_id + 10000, list_transform(embedding::DOUBLE[], x -> x * 0.5)
      FROM embeddings
    ),
    anchors AS (
      SELECT vec_id AS cid, embedding::DOUBLE[] AS av
      FROM embeddings WHERE vec_id < 64
    ),
    scored AS (
      SELECT c.vec_id, c.v, a.cid,
             round(list_cosine_similarity(c.v, a.av), 6) AS cs
      FROM corpus c CROSS JOIN anchors a
    ),
    assign AS (
      SELECT vec_id, v, cid, cs AS cent
      FROM (SELECT *, row_number() OVER
              (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rn
            FROM scored)
      WHERE rn = 1
    ),
    dropped AS (
      SELECT DISTINCT b.vec_id
      FROM assign a JOIN assign b
        ON a.cid = b.cid AND a.vec_id <> b.vec_id
      WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.99
        AND (a.cent < b.cent
             OR (a.cent = b.cent AND a.vec_id < b.vec_id))
    )
    SELECT a.cid AS cluster_id,
           count(*)::BIGINT AS n_members,
           count(d.vec_id)::BIGINT AS n_dropped,
           sum(CASE WHEN d.vec_id IS NULL THEN a.vec_id ELSE 0 END)::BIGINT
             AS kept_id_sum
    FROM assign a LEFT JOIN dropped d ON a.vec_id = d.vec_id
    GROUP BY a.cid
    """,
)
def dedup_semdedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    assign every vector to its nearest of 64 deterministic anchors, find
    near-duplicate pairs ONLY within a cluster, and keep the member of
    each pair with the LOWER centroid similarity (the paper's
    diversity-preserving rule). Per-cluster summary: member count, drop
    count, and the kept-id checksum.

    Same planted-duplicate construction as ``dedup_embedding_cosine``
    (0.5·v scale copies under vec_id+10000) and the same exactness
    argument: IEEE scaling by 0.5 is exact, so a copy's anchor cosines
    are bit-identical to its original's — both land in the same cluster
    with equal ``cent_sim`` and the id tie-break decides, while the
    background corpus tops out near cosine 0.6, far from the 0.99
    threshold. Assignment argmax compares 6-rounded cosines with an
    anchor-id tie-break, so both engines agree on every cluster.

    Scale: anchors broadcast; candidate pairs are bounded by cluster
    size — 64 anchors keep the expected cluster ~60 rows even at sf0.1
    (k ∝ n is the 100 TB rule) — see
    :func:`irio_mapreduce_spark.llm.similarity.semdedup`."""
    emb = read_table(spark, sf_dir, "embeddings")
    orig = emb.select("vec_id", as_double(F.col("embedding")).alias("v"))
    copies = emb.select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.transform(as_double(F.col("embedding")), lambda x: x * 0.5).alias("v"),
    )
    corpus = orig.unionByName(copies)
    anchors = emb.filter(F.col("vec_id") < 64).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("av")
    )
    flags = semdedup_op(
        corpus, "v", "vec_id", anchors, threshold=0.99, digits=6
    )
    return flags.groupBy("cluster_id").agg(
        F.count("*").cast("long").alias("n_members"),
        F.sum(F.col("dropped").cast("long")).cast("long").alias("n_dropped"),
        F.sum(F.when(~F.col("dropped"), F.col("vec_id")).otherwise(F.lit(0)))
        .cast("long")
        .alias("kept_id_sum"),
    )


_FUZZY_PLANT_OFFSET = 40_000_000


@register(
    "dedup_fuzzy_levenshtein",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, text FROM documents WHERE len(text) >= 40),
    variants AS (
      SELECT doc_id + {_FUZZY_PLANT_OFFSET} AS doc_id,
             'X' || substring(text, 2, 19)
               || 'ZZ' || substring(text, 21) AS text
      FROM base),
    u AS (SELECT * FROM base UNION ALL SELECT * FROM variants),
    keyed AS (
      SELECT doc_id, right(text, 12) AS blk,
             substring(text, 1, 100) AS probe
      FROM u),
    pairs AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2,
             CAST(levenshtein(a.probe, b.probe) AS BIGINT) AS dist
      FROM keyed a JOIN keyed b
        ON a.blk = b.blk AND a.doc_id < b.doc_id)
    SELECT id1, id2, dist FROM pairs WHERE dist <= 5
    """,
)
def dedup_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked FUZZY-MATCH dedup by edit distance: candidate pairs come
    from an equality join on a SUFFIX blocking signature (``right(text,
    12)`` — a mid-string key does NOT survive an insertion, which
    shifts every later position; caught when planted recall silently
    dropped to zero), then ``levenshtein`` on 100-char prefix probes
    keeps pairs within distance 5. The planted-recall harness (the
    ``dedup_simhash`` shape): every ≥40-char document gets a
    typo-variant copy — first char overwritten + 'ZZ' inserted at
    position 21: distance 3 when the doc fits the probe window, up to 5
    when the insertion shifts the window tail (the second subtle bug
    the first cut hit) — and every planted pair must appear
    (pytest-asserted recall); Spark and
    DuckDB levenshtein agree exactly (classic DP, probed). At 100 TB:
    blocking bounds candidates to same-key groups (never all-pairs —
    the plan sweep applies), probes are fixed-length prefixes so the
    O(len²) DP is constant-cost, and the production recipe composes
    this as the VERIFY stage behind MinHash/SimHash candidate
    generation (``dedup_minhash_lsh``)."""
    docs = read_table(spark, sf_dir, "documents").filter(
        F.length("text") >= 40
    ).select("doc_id", "text")
    variants = docs.select(
        (F.col("doc_id") + _FUZZY_PLANT_OFFSET).alias("doc_id"),
        F.concat(
            F.lit("X"),
            F.substring("text", 2, 19),
            F.lit("ZZ"),
            F.expr("substring(text, 21)"),
        ).alias("text"),
    )
    keyed = docs.unionByName(variants).select(
        "doc_id",
        F.expr("right(text, 12)").alias("blk"),
        F.substring("text", 1, 100).alias("probe"),
    ).persist()  # both self-join sides read it; one scan, not two
    a, b = keyed.alias("a"), keyed.alias("b")
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id1"),
            F.col("b.doc_id").alias("id2"),
            F.levenshtein(F.col("a.probe"), F.col("b.probe"))
            .cast("long")
            .alias("dist"),
        )
        .filter(F.col("dist") <= 5)
    )


@register(
    "dedup_paragraph_ccnet",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text || ' zz' || CAST(doc_id AS VARCHAR)
      FROM documents WHERE doc_id % 5 = 0),
    tk AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                         t -> t <> '') AS toks
      FROM corpus),
    chs AS (
      SELECT doc_id,
             list_transform(range(0, (len(toks) + 9) // 10),
               i -> array_to_string(toks[i*10+1 : i*10+10], ' ')) AS chunks
      FROM tk),
    ch AS (
      SELECT doc_id, i - 1 AS cpos, chunks[CAST(i AS INTEGER)] AS chunk
      FROM chs, unnest(generate_series(1, len(chunks))) AS u(i)),
    kept AS (
      SELECT doc_id, cpos, chunk FROM (
        SELECT doc_id, cpos, chunk,
               row_number() OVER (
                 PARTITION BY sha256(chunk) ORDER BY doc_id, cpos) AS rn
        FROM ch)
      WHERE rn = 1),
    ka AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
             md5(string_agg(chunk, ' ' ORDER BY cpos)) AS rebuilt_md5
      FROM kept GROUP BY doc_id)
    SELECT c.doc_id,
           CAST(len(c.chunks) AS BIGINT) AS n_chunks,
           coalesce(ka.n_kept, 0) AS n_kept,
           coalesce(ka.rebuilt_md5, md5('')) AS rebuilt_md5
    FROM chs c LEFT JOIN ka USING (doc_id)
    """,
)
def dedup_paragraph_ccnet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style paragraph-level dedup (``llm.dedup.paragraph_dedup``)
    over a planted-boilerplate harness: every fifth document gets a copy
    (under ``doc_id + 1000000``) whose text differs only by a unique
    trailing token — so every chunk of the copy except its modified FINAL
    chunk is cross-document boilerplate and must be dropped by keep-first,
    while originals (lower doc_id) survive untouched. Output is the per-doc
    reassembly audit: chunk counts before/after and the md5 of the rebuilt
    text (md5 on both engines; the full string stays out of the hash
    compare's payload).

    The invariant pinned by the oracle: every copy keeps EXACTLY its final
    chunk (verified: 100/100 at sf0.01), while originals keep everything
    except naturally-duplicated 10-grams (the small-vocabulary synthetic
    corpus genuinely repeats some chunks across docs — ~11% of originals
    lose a median ~2 chunks; the entry deliberately keeps that real signal
    in the hash compare rather than masking it). See the operator
    docstring for the 100 TB shuffle budget (two paragraph-relation
    shuffles on 32-byte keys)."""
    from irio_mapreduce_spark.llm.dedup import paragraph_dedup

    docs = read_table(spark, sf_dir, "documents")
    copies = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(
            F.col("text"), F.lit(" zz"), F.col("doc_id").cast("string")
        ).alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionByName(copies)
    out = paragraph_dedup(corpus, chunk_tokens=10)
    return out.select(
        "doc_id",
        "n_chunks",
        "n_kept",
        F.md5(F.encode(F.col("rebuilt_text"), "UTF-8")).alias("rebuilt_md5"),
    )


# Shared trigram-set expression of the streaming-maintenance oracle (same
# tokenization as _INCR_DEDUP_ORACLE).
_TRIGRAMS = (
    "list_distinct(list_transform("
    "generate_series(1, len(list_filter(string_split_regex(lower(trim(text)),"
    " '\\s+'), t -> t <> '')) - 2),"
    " i -> array_to_string(list_filter(string_split_regex(lower(trim(text)),"
    " '\\s+'), t -> t <> '')[i:i+2], ' ')))"
)

_STREAM_IDX_ORACLE = f"""
    WITH batch AS (
      SELECT doc_id, text, (doc_id // 10) % 3 AS chunk
      FROM documents WHERE doc_id % 10 = 0),
    corpus AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0
      UNION ALL
      SELECT doc_id + 100000, text FROM documents WHERE doc_id % 20 = 0),
    bt AS (SELECT doc_id, chunk, {_TRIGRAMS} AS s, sha256(text) AS fp
           FROM batch),
    ct AS (SELECT {_TRIGRAMS} AS s, sha256(text) AS fp FROM corpus),
    dupc AS (
      SELECT DISTINCT b.doc_id FROM bt b, ct c
      WHERE c.fp = b.fp
         OR len(list_intersect(c.s, b.s)) * 1.0
            / (len(c.s) + len(b.s) - len(list_intersect(c.s, b.s))) >= 0.8),
    dupb AS (
      SELECT DISTINCT a.doc_id AS late_id, a.chunk AS late_chunk,
             b.doc_id AS early_id, b.chunk AS early_chunk
      FROM bt a, bt b
      WHERE a.chunk > b.chunk
        AND (a.fp = b.fp
             OR len(list_intersect(a.s, b.s)) * 1.0
               / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
               >= 0.8)),
    s0 AS (
      SELECT doc_id, chunk FROM bt
      WHERE chunk = 0 AND doc_id NOT IN (SELECT doc_id FROM dupc)),
    s1 AS (
      SELECT doc_id, chunk FROM bt
      WHERE chunk = 1 AND doc_id NOT IN (SELECT doc_id FROM dupc)
        AND doc_id NOT IN (
          SELECT late_id FROM dupb
          WHERE early_id IN (SELECT doc_id FROM s0))),
    s2 AS (
      SELECT doc_id, chunk FROM bt
      WHERE chunk = 2 AND doc_id NOT IN (SELECT doc_id FROM dupc)
        AND doc_id NOT IN (
          SELECT late_id FROM dupb
          WHERE early_id IN (SELECT doc_id FROM s0
                             UNION ALL SELECT doc_id FROM s1)))
    SELECT doc_id, CAST(chunk AS BIGINT) AS chunk FROM s0
    UNION ALL SELECT doc_id, CAST(chunk AS BIGINT) FROM s1
    UNION ALL SELECT doc_id, CAST(chunk AS BIGINT) FROM s2
    """


@register("stream_dedup_index_maintenance", oracle=_STREAM_IDX_ORACLE)
def stream_dedup_index_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAMING INCREMENTAL LSH INDEX MAINTENANCE — the steady-state
    ingest loop ``dedup_incremental_persisted`` documents, actually
    running on the streaming engine: the ingest batch replays as THREE
    time-ordered micro-batches (chunk = (doc_id div 10) % 3, one parquet
    file each, maxFilesPerTrigger=1), and a ``foreachBatch`` handler
    (``llm.dedup.index_maintenance_handler``) dedups each micro-batch
    against every existing index generation then APPENDS the survivors
    as a new ``seg=b<batchId>`` generation of the persisted
    three-artifact index — so chunk 2 dedups against base + chunk 0's +
    chunk 1's survivors with no corpus rebuild. Output: the final index
    state's streamed generations (doc_id, chunk) — i.e. which batch rows
    entered the index and in which micro-batch.

    Oracle: chained brute-force dedup unrolled over the three chunks
    (vs corpus, then vs earlier chunks' SURVIVORS — a row rejected in
    chunk 0 never shadows a chunk-2 row). Within-chunk duplicates are
    NOT deduped (the probe sees only prior generations) — both sides
    agree by construction. Replay idempotence (a re-run micro-batch
    overwrites its own segment, probing the index state minus itself)
    is pinned by tests/test_streaming.py.

    The base index is warehouse-persisted per (sf, corpus stamp) like
    ``dedup_incremental_persisted``; each run resets only the streamed
    ``seg=b*`` generations — the production analogue of replaying an
    ingest window against a standing corpus index."""
    import glob
    import os
    import shutil
    import tempfile

    from irio_mapreduce_spark.llm.dedup import (
        build_streaming_index_base,
        index_maintenance_handler,
        streaming_index_params,
    )
    from irio_mapreduce_spark.streaming.ops import _write_replay_sequenced, drain

    docs = read_table(spark, sf_dir, "documents")
    corpus, batch = _ingest_split(docs)
    root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    idx_dir = os.path.join(
        root,
        "spark-warehouse",
        "stream_idx_v1_"
        f"{os.path.basename(os.path.normpath(sf_dir))}_{_corpus_stamp(sf_dir)}",
    )
    if streaming_index_params(idx_dir) is not None:
        # reset only the STREAMED generations (b0, b1, ...) — the glob
        # must not catch seg=base ("b*" would!)
        for seg in glob.glob(os.path.join(idx_dir, "*", "seg=b[0-9]*")):
            shutil.rmtree(seg)
    else:
        build_streaming_index_base(corpus, "doc_id", "text", idx_dir)
    run_dir = tempfile.mkdtemp(prefix="stream_idx_run_")
    replay_dir = os.path.join(run_dir, "replay")
    chunked = batch.select(
        "doc_id",
        "text",
        F.expr("CAST((doc_id div 10) % 3 AS INT)").alias("_chunk"),
    )
    _write_replay_sequenced(chunked, "_chunk", 3, replay_dir)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(replay_dir)
    )
    drain(
        stream,
        index_maintenance_handler(idx_dir, "doc_id", "text"),
        checkpoint=os.path.join(run_dir, "ck"),
    )
    return (
        spark.read.parquet(os.path.join(idx_dir, "docs"))
        .filter(F.col("seg") != "base")
        .select(
            F.col("_cid").alias("doc_id"),
            F.regexp_replace(F.col("seg").cast("string"), "^b", "")
            .cast("long")
            .alias("chunk"),
        )
    )


@register(
    "dedup_prefix_filter_jaccard",
    oracle=f"""
    WITH {_DUCK_TRIGRAMS},
    ex AS (SELECT doc_id, unnest(s) AS tk FROM sh),
    sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
           FROM ex GROUP BY 1),
    pairs AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2,
             CAST(count(*) AS BIGINT) AS inter
      FROM ex a JOIN ex b ON a.tk = b.tk AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT id1, id2, inter,
           CAST(s1.n + s2.n - inter AS BIGINT) AS uni
    FROM pairs
      JOIN sz s1 ON id1 = s1.doc_id
      JOIN sz s2 ON id2 = s2.doc_id
    WHERE 5 * inter >= 3 * (s1.n + s2.n - inter)
    """,
)
def dedup_prefix_filter_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PREFIX-FILTERING similarity join (SSJoin / AllPairs / PPJoin
    family — Chaudhuri et al. ICDE'06, Bayardo et al. WWW'07): the
    third candidate-generation strategy in the near-dup family, and the
    only LOSSLESS one (MinHash-LSH: probabilistic recall; banded
    n-gram sampling: heuristic). Trigram-shingle sets at Jaccard ≥ 0.6,
    verified with exact integer cross-multiplication (5·∩ ≥ 3·∪).

    The filter: order every document's shingles by GLOBAL document
    frequency ascending (rarest first, ties on the shingle string), and
    emit only the first p = |s| − ⌈0.6·|s|⌉ + 1 as join keys
    (⌈3n/5⌉ = (3n+4) div 5 in exact integers). Completeness proof
    sketch (the docstring IS the spec): if J(A,B) ≥ t, the smallest
    common shingle c in the global order must sit inside BOTH prefixes
    — were c beyond A's prefix, all of A∩B would fit in A's last
    ⌈t·|A|⌉ − 1 positions, yet |A∩B| ≥ t·|A∪B| ≥ t·|A|, a
    contradiction. So every qualifying pair collides on ≥ 1 prefix key
    and the equi-join is exhaustive — which is why the brute-force
    all-pairs oracle is a valid EXACT check, not a bound. Pinned first-
    principles in tests/test_properties.py (random set families:
    prefix-filter candidates ⊇ all pairs with J ≥ t).

    Scale shape: the candidate join keys are each document's RAREST
    shingles, so per-key fan-out is bounded by the df of rare tokens —
    at sf0.01 the filter generates 165 candidate pairs where the
    brute-force join scores 11,533 sharing pairs of 124,750 total (70×
    / 756× prune, measured; the oracle pays the brute-force cost so
    the engine doesn't have to). Feature choice matters: bigram
    shingles on this templated corpus have flat df and prune only
    ~2× — shingle ORDER (n=3) is what gives the df ranking its
    discriminating tail. The df ranking is one groupBy + one per-doc
    window; verification joins explode only candidate pairs. At
    100 TB: no all-pairs stage anywhere; skew is capped because a
    frequent shingle is by construction NOT in any prefix unless the
    document is nearly all-frequent-shingles (and the df-ascending
    order makes that the last resort)."""
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents")
    from irio_mapreduce_spark.llm.dedup import shingles, widen

    # r12 (guide §2.5): the shingle build upstream of the first shuffle
    # ran as ONE task on the single-row-group bench parquet — widen
    # first, the same discipline every other shingle operator here
    # applies (no-op when the input is already wide).
    #
    # r13 restructure (guide §2.3 "shuffle fewer bytes" + §2.6): the old
    # shape persisted the EXPLODED (doc, token) frame and shuffled it
    # TWICE MORE for verification (join by id1, then by (id2, token) +
    # a count aggregate) — the heaviest exchanges in the plan, and the
    # two lazy persists raced concurrent stages (the entry anti-scaled
    # 0.84). Three changes, measured together 6.4 → ~3.1 s single-shot:
    #
    # 1. AllPairs/PPJoin candidate filters (Bayardo WWW'07 §3; Xiao
    #    WWW'08 §3.2) BEFORE any payload moves — both provably necessary
    #    for J ≥ 3/5, so the output is unchanged: (a) LENGTH:
    #    |A∩B| ≤ min(n1,n2), |A∪B| ≥ max(n1,n2) ⇒ 3·max ≤ 5·min;
    #    (b) POSITIONAL: collisions are tokens in BOTH prefixes, and
    #    per-doc positions are ranks in ONE global (df, tk) order, so
    #    for the minimal colliding positions (q1, q2) any common token
    #    ordered before that collision would itself be a lower-position
    #    collision (contradiction) — hence every other common token sits
    #    after q1 in A AND after q2 in B, giving
    #    inter ≤ 1 + min(n1−q1, n2−q2); require 8·that ≥ 3·(n1+n2)
    #    (the integer form of inter ≥ t/(1+t)·(n1+n2)). Measured at
    #    sf0.1: 312k raw collisions → 69k verified pairs.
    # 2. Verification joins the surviving pairs back to the per-doc
    #    SHINGLE-SET ARRAYS and computes |∩| as
    #    ``size(array_intersect(s1, s2))`` — exact for the distinct
    #    arrays ``shingles`` produces; zero token-level verification
    #    shuffles, and the arrays cross an exchange once per side for
    #    only the filtered pairs. Set sizes ride along from the prefix
    #    frame (n == size(s)), so no sz join either.
    # 3. Barriers split by size (the r12 verdict's prescription): the
    #    doc→array frame is EAGERLY checkpointed (feeds the token
    #    explode and both verification sides — replaying it would
    #    re-tokenize); the small prefix index is LAZILY checkpointed
    #    (self-join input; lazy measured ≈ eager-barrier cost here and
    #    a localCheckpoint never pins a CacheManager entry the way the
    #    old persist() did — r12 ADVICE.md).
    sh = barrier(
        widen(docs).select("doc_id", shingles(tokens(F.col("text")), 3).alias("s"))
    )
    ex = sh.select("doc_id", F.explode("s").alias("tk"))
    dfreq = ex.groupBy("tk").agg(F.count("*").cast("long").alias("df"))
    w_pos = Window.partitionBy("doc_id").orderBy("df", "tk")
    w_doc = Window.partitionBy("doc_id")
    pref = barrier(
        ex.join(dfreq, "tk")
        .select(
            "doc_id",
            "tk",
            F.row_number().over(w_pos).alias("pos"),
            F.count("*").over(w_doc).cast("long").alias("n"),
        )
        .filter(
            F.col("pos")
            <= F.col("n")
            - F.expr("(3 * n + 4) div 5").cast("long")
            + 1
        )
        .select("doc_id", "tk", "pos", "n"),
        eager=False,
    )
    a = pref.select(
        F.col("doc_id").alias("id1"),
        "tk",
        F.col("pos").alias("p1"),
        F.col("n").alias("n1"),
    )
    b = pref.select(
        F.col("doc_id").alias("id2"),
        "tk",
        F.col("pos").alias("p2"),
        F.col("n").alias("n2"),
    )
    cand = (
        a.join(b, "tk")
        .filter(
            (F.col("id1") < F.col("id2"))
            & (3 * F.col("n1") <= 5 * F.col("n2"))
            & (3 * F.col("n2") <= 5 * F.col("n1"))
        )
        .groupBy("id1", "id2")
        .agg(
            F.min("p1").alias("q1"),
            F.min("p2").alias("q2"),
            F.first("n1").alias("n1"),
            F.first("n2").alias("n2"),
        )
        .filter(
            8
            * (
                1
                + F.least(
                    F.col("n1") - F.col("q1"), F.col("n2") - F.col("q2")
                )
            )
            >= 3 * (F.col("n1") + F.col("n2"))
        )
    )
    return (
        cand.join(
            sh.select(F.col("doc_id").alias("id1"), F.col("s").alias("s1")),
            "id1",
        )
        .join(
            sh.select(F.col("doc_id").alias("id2"), F.col("s").alias("s2")),
            "id2",
        )
        .select(
            "id1",
            "id2",
            F.size(F.array_intersect("s1", "s2")).cast("long").alias("inter"),
            (F.col("n1") + F.col("n2")).alias("_tot"),
        )
        .select(
            "id1",
            "id2",
            "inter",
            (F.col("_tot") - F.col("inter")).cast("long").alias("uni"),
        )
        .filter(5 * F.col("inter") >= 3 * F.col("uni"))
    )
