"""Deduplication operators: exact, MinHash-LSH, SimHash, n-gram Jaccard.

Design for 100 TB (the north star): nothing here ever forms the all-pairs
product of the corpus. Candidate generation is always a *bucketed equi-join*
(LSH band buckets, shared rare shingles, SimHash byte bands), so the shuffle
key-space is bounded and AQE's skew handling applies. Signatures are computed
with higher-order array functions — per-row, JVM-side, zero shuffle.

The reference has no analog (it is a generic MapReduce runtime); these are
the compositions SURVEY.md §2.2 "LLM-data-pipeline operators" declares.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from irio_mapreduce_spark.operators.barrier import barrier, free_checkpoint
from irio_mapreduce_spark.session import session_memo


def widen(df: DataFrame, target_partitions: int | None = None) -> DataFrame:
    """Repartition up to the session's shuffle parallelism when the input
    has fewer partitions. The signature/shingle computations here are
    CPU-heavy per row; a small corpus read from one parquet file would
    otherwise run them on ONE core (measured 15s -> 3s on the sf0.1
    MinHash pass). At real scale inputs already have enough partitions and
    this is a no-op.

    ``target_partitions``: when the caller already knows how wide the
    input should be, passing it skips the partition-count probe entirely
    and repartitions unconditionally to that width. Use this for
    multi-branch inputs (unions): the probe below forces a DataFrame->RDD
    lineage conversion that is ~0.1 s on a plain scan but measured ~6 s on
    a two-branch union of parquet scans at sf0.1.

    Probe cost note (the ``target_partitions=None`` path):
    ``df.rdd.getNumPartitions()`` forces a DataFrame->RDD lineage
    conversion. A plan-level probe is not a substitute
    (``executedPlan().outputPartitioning()`` is UnknownPartitioning for
    scans), and unconditionally repartitioning would add a real shuffle at
    scale precisely when the input is already wide — the probe is the
    cheapest branch that keeps the no-op path shuffle-free on the common
    single-scan inputs."""
    if target_partitions is not None:
        return df.repartition(target_partitions)
    target = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    return df.repartition(target) if df.rdd.getNumPartitions() < target else df


def tokens(text_col: str | Column, lowercase: bool = True) -> Column:
    """Whitespace tokens of a text column (empty strings removed)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    if lowercase:
        c = F.lower(c)
    return F.filter(F.split(F.trim(c), r"\s+"), lambda t: t != "")


def shingles(token_col: Column, n: int = 3) -> Column:
    """Distinct word ``n``-grams of a token array, built JVM-side as
    ``zip_with`` over ``n`` shifted ``slice`` views — no explode, no
    shuffle, and ~15x faster than the naive
    ``transform(sequence(i), concat_ws(slice(tokens, i, n)))`` form
    (measured 10.6s -> 0.7s per core at sf0.1): slices are bulk array
    copies and each zip step does one concat per element, where the
    per-position slice re-materializes an n-element array inside an
    interpreted lambda. Documents shorter than ``n`` tokens yield an empty
    array (slice length clamps to 0 — which also sidesteps Spark's
    ``sequence(1, 0)`` counting DOWN)."""
    m = F.greatest(F.size(token_col) - (n - 1), F.lit(0))
    acc = F.slice(token_col, 1, m)
    for j in range(1, n):
        acc = F.zip_with(
            acc, F.slice(token_col, 1 + j, m), lambda a, b: F.concat_ws(" ", a, b)
        )
    return F.array_distinct(acc)


def exact_dedup(
    df: DataFrame,
    fingerprint: Column,
    order_by: list[Column],
    keep_fp_col: str | None = None,
) -> DataFrame:
    """Keep the first row (by ``order_by``) per fingerprint value.

    The canonical exact-dedup pipeline is ``fingerprint = sha2(text, 256)``:
    the group key is then 32 bytes regardless of document size, so the
    shuffle carries hashes, not documents. ``row_number`` (not
    ``dropDuplicates``) makes the kept row deterministic.
    """
    fp = fingerprint.alias("_fp")
    w = Window.partitionBy("_fp").orderBy(*order_by)
    out = (
        df.withColumn("_fp", fp)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    if keep_fp_col:
        return out.withColumnRenamed("_fp", keep_fp_col)
    return out.drop("_fp")


def _band_key(shingle_col: Column, band: int, rows_per_band: int) -> Column:
    """Bucket key for one LSH band: xxhash64 of the band's min-hash rows.
    Two documents collide in band b iff all rows of that band agree — the
    standard banding amplification.

    Computed DIRECTLY from the band's own seeds rather than slicing a full
    128-element signature column: Catalyst collapses projections, so a
    shared signature expression would be re-evaluated once per band —
    32x the hashing work (measured: 195s -> ~6s at sf0.1)."""

    # a 1-arg closure factory per seed: a ``lambda s, j=j`` would have
    # arity 2, which PySpark dispatches as the (element, index) form,
    # silently replacing the seed with the array index
    def _minhash(j: int) -> Column:
        return F.array_min(F.transform(shingle_col, lambda s: F.xxhash64(s, F.lit(j))))

    return F.xxhash64(
        F.lit(band),
        F.concat_ws(
            ",",
            *[
                _minhash(band * rows_per_band + r).cast("string")
                for r in range(rows_per_band)
            ],
        ),
    )


def banded_explode(
    shingle_colname: str, bands: int, rows_per_band: int
) -> Column:
    """``explode(array(band_key(0) .. band_key(bands-1)))`` over the named
    shingle column, MEMOIZED per SparkContext.

    Rationale (optimization round 12, measured): the full band tree is
    ``bands × rows_per_band`` minhash sub-expressions built through py4j
    — ~3 s of pure driver-side construction per call at 32×4. Callers
    that rebuild the probe plan repeatedly (the foreachBatch index-
    maintenance handler constructs it once per MICRO-BATCH; the
    incremental-dedup entries once per run) were paying that per plan.
    A ``Column`` is an immutable expression tree resolved against
    whatever plan it is later applied to, so one instance serves every
    plan in the context. ``session_memo`` drops the entry with its
    context, so a restarted JVM can never serve a stale py4j reference."""
    return session_memo(
        ("banded_explode", shingle_colname, bands, rows_per_band),
        lambda: F.explode(
            F.array(
                *[
                    _band_key(F.col(shingle_colname), b, rows_per_band)
                    for b in range(bands)
                ]
            )
        ),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    shingle_col: str,
    num_hashes: int = 128,
    bands: int = 32,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash-LSH.

    Returns distinct ``(id1, id2)`` pairs (id1 < id2) that collide in at
    least one band bucket, with their shingle sets attached as ``_sh1`` /
    ``_sh2`` for exact verification. Never all-pairs: the only join is the
    equi-join on ``(band, bucket)``.

    Shuffle discipline: the band join moves ``(id, bucket)`` LONGS only —
    shingle sets are re-attached to the (deduped, few) candidate pairs by
    two id-joins afterwards. Carrying the arrays through the band explode
    would shuffle every document's shingle set ``bands`` times; candidates
    are orders of magnitude rarer than band rows, so re-fetching payloads
    for candidates is the scale-right trade (one extra pass over the
    input, whose scan the band side shares anyway).

    ``max_bucket_size`` drops buckets larger than the cap before the
    self-join (the count is one cheap partial-agg pass; the join would be
    quadratic in bucket size). It is a RECALL valve, not a free guard: a
    cluster of more than ``max_bucket_size`` near-identical documents puts
    every band in the same oversized bucket, so ALL of that cluster's pairs
    vanish. Pass ``None`` (as the oracle-checked catalog entry does) for
    exact-recall semantics; at corpus scale, run :func:`exact_dedup` first
    so identical boilerplate collapses before LSH sees it, then a cap only
    affects pathological near-but-not-exact megaclusters.
    """
    rows_per_band = num_hashes // bands
    # Materialize (id, shingle set) ONCE behind an optimizer barrier. The
    # barrier is load-bearing twice over: (a) Catalyst's projection
    # collapse would otherwise inline the shingle expression into every
    # minhash site — num_hashes copies of tokenize+zip_with+distinct in
    # one whole-stage-codegen method, whose ~8 s Janino compile dominated
    # the operator even on 500 rows (measured 10.8 s -> 3.0 s cold /
    # 0.6 s warm at sf0.1 with the barrier); (b) it IS the LSH index-build
    # artifact — shingles are computed once, and both the band keys and
    # the candidate verification read the same materialized sets. At
    # corpus scale, persist this projection to storage instead of
    # localCheckpoint (same shape: the index outlives the query).
    pre = barrier(
        widen(df.select(F.col(id_col).alias("_id"), F.col(shingle_col).alias("_sv")))
    )
    keyed = pre.select(
        "_id",
        banded_explode("_sv", bands, rows_per_band).alias("_bucket"),
    )
    sized = keyed
    if max_bucket_size is not None:
        sized = keyed.withColumn(
            "_bsz", F.count("*").over(Window.partitionBy("_bucket"))
        ).filter(F.col("_bsz") <= max_bucket_size)
    # Materialize the band index ONCE (eager barrier): it feeds BOTH sides
    # of the bucket self-join, and without a barrier the 128-minhash band
    # keying (and the bucket-size window, when capped) replays per side.
    # (id, bucket) longs only — ``bands`` rows per document, the LSH index
    # table a production pipeline persists.
    sized = barrier(sized)
    a = sized.select(F.col("_id").alias("id1"), "_bucket")
    b = sized.select(F.col("_id").alias("id2"), "_bucket")
    pairs = (
        a.join(b, "_bucket")
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2")
        .dropDuplicates(["id1", "id2"])
    )
    return (
        pairs.join(pre.select(F.col("_id").alias("id1"), F.col("_sv").alias("_sh1")), "id1")
        .join(pre.select(F.col("_id").alias("id2"), F.col("_sv").alias("_sh2")), "id2")
        .select("id1", "id2", "_sh1", "_sh2")
    )


def jaccard(set1: Column, set2: Column, digits: int | None = 6) -> Column:
    """Exact Jaccard similarity of two (distinct-element) arrays; NULL when
    both are empty (0/0 — found by the hypothesis property suite, and a
    real case for sub-``n``-token documents whose shingle set is empty).

    ``digits=None`` returns the unrounded ratio — thresholds must filter
    on THAT (matching the oracles' WHERE-on-raw-ratio structure) and round
    only in the output projection: filtering on the rounded value is a
    latent off-by-5e-7 oracle mismatch once set sizes approach ~10^6."""
    inter = F.size(F.array_intersect(set1, set2))
    union = F.size(set1) + F.size(set2) - inter
    ratio = inter / union
    return F.when(union > 0, ratio if digits is None else F.round(ratio, digits))


def near_dup_pairs_minhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    num_hashes: int = 128,
    bands: int = 32,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """End-to-end near-dedup: shingle -> MinHash-LSH candidates -> exact
    Jaccard verification >= ``threshold``. Output: (id1, id2, jaccard).

    With r = num_hashes/bands = 4 rows per band, a pair at J=0.8 collides
    with probability 1-(1-0.8^4)^32 ≈ 1-6e-9 — recall is effectively 1 at
    the threshold, while J=0.3 pairs are sampled at ~0.23 rate and then
    discarded by the exact check (precision 1 by construction).
    """
    sh = widen(df).select(
        F.col(id_col).alias("_doc_id"),
        shingles(tokens(text_col), n).alias("_shingles"),
    )
    cand = minhash_lsh_pairs(
        sh, "_doc_id", "_shingles", num_hashes, bands, max_bucket_size
    )
    # Threshold on the UNROUNDED ratio (oracle WHERE-then-SELECT parity);
    # round only in the output projection.
    return (
        cand.withColumn("_j", jaccard(F.col("_sh1"), F.col("_sh2"), digits=None))
        .filter(F.col("_j") >= threshold)
        .select("id1", "id2", F.round(F.col("_j"), 6).alias("jaccard"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
) -> DataFrame:
    """EXACT n-gram Jaccard pairs >= threshold via PREFIX FILTERING
    (Bayardo et al. "Scaling Up All Pairs Similarity Search", WWW'07;
    Xiao et al. PPJoin): instead of joining the full inverted index —
    O(df²) rows per shingle, quadratic in shared boilerplate — only each
    document's *prefix* is indexed.

    With shingles in a global canonical order (ascending document
    frequency, rarest first), any pair with J >= t must share the MINIMUM
    element of its intersection, which provably lies within the first
    ``|X| - ceil(t*|X|) + 1`` shingles of BOTH documents: if it didn't, the
    whole intersection would sit in a suffix of size ``ceil(t*|X|) - 1 <
    t*|X| <= |A∩B|`` — contradiction. So the candidate join touches ~20%
    of the index at t=0.8, and because prefixes hold the RAREST shingles,
    high-df boilerplate (the O(df²) killer) almost never lands in one.
    Candidates are then verified with exact set intersection — output is
    IDENTICAL to the naive join at any scale (measured at sf0.1: 40.5s ->
    ~3s, byte-identical result).

    ``max_df`` remains as a belt-and-braces valve (drops shingles in more
    than that many documents from the index entirely — lossy, documented),
    but prefix filtering makes it unnecessary for exactness-preserving
    scale-out.
    """
    # r12 (guide §2.4): one logical plan references the shingle frame FOUR
    # times (the prefix self-join's two sides + the two verification
    # sides), so without a barrier Catalyst replays the scan+tokenize+
    # shingle subtree 4x and the prefix window pair 2x — the before-plan
    # showed 8 parquet scans / 12 Window nodes / 22 Exchanges for ONE
    # query. persist() (lazy) computes each subtree once per action and
    # serves the other branches from the block manager; blocks are a few
    # MB of (id, shingles) / (id, shingle) rows — hashes and grams, never
    # documents. NB (r12 ADVICE, comment corrected r13): persist()
    # registers the plan in the session CacheManager, which holds a
    # STRONG reference until unpersist()/clearCache() — the blocks are
    # NOT GC-released with the frame. Accepted here knowingly: the entry
    # is single-action, blocks are small, and a later canonically-equal
    # plan reading the warm cache is correct (just warm); long-lived
    # drivers that loop over entries can clearCache() between entries
    # (tools/opt_bench.py --clear-cache does exactly that when measuring).
    sh = (
        widen(df)
        .select(
            F.col(id_col).alias("_doc_id"),
            shingles(tokens(text_col), n).alias("_shingles"),
        )
        .persist()
    )
    ex = sh.select("_doc_id", F.explode("_shingles").alias("_g"))
    # Document frequency per shingle via a window count — one shuffle on
    # the shingle, no separate agg+join pass.
    ex = ex.withColumn("_df", F.count("*").over(Window.partitionBy("_g")))
    if max_df is not None:
        ex = ex.filter(F.col("_df") <= max_df)
    # Canonical global order: (df asc, shingle asc). Prefix length
    # |X| - ceil(t|X|) + 1; the 1e-9 nudge makes float ceil(t*n) err LOW on
    # representation noise (e.g. 0.8*5 -> 4.0000000000000002), which only
    # LENGTHENS the prefix — always safe, never misses a pair.
    w_rank = Window.partitionBy("_doc_id").orderBy("_df", "_g")
    w_doc = Window.partitionBy("_doc_id")
    prefix = (
        ex.withColumn("_rn", F.row_number().over(w_rank))
        .withColumn("_n", F.count("*").over(w_doc))
        .filter(
            F.col("_rn")
            <= F.col("_n") - F.ceil(F.lit(threshold) * F.col("_n") - 1e-9) + 1
        )
        .select("_doc_id", "_g")
        .persist()  # self-joined below: one window pass, not two
    )
    cand = (
        prefix.select(F.col("_doc_id").alias("id1"), "_g")
        .join(prefix.select(F.col("_doc_id").alias("id2"), "_g"), "_g")
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2")
        .dropDuplicates(["id1", "id2"])
    )
    # Exact verification: attach both shingle sets (candidates are few at a
    # high threshold — this join carries arrays only for surviving pairs).
    s1 = sh.select(F.col("_doc_id").alias("id1"), F.col("_shingles").alias("_sh1"))
    s2 = sh.select(F.col("_doc_id").alias("id2"), F.col("_shingles").alias("_sh2"))
    return (
        cand.join(s1, "id1")
        .join(s2, "id2")
        .withColumn("_j", jaccard(F.col("_sh1"), F.col("_sh2"), digits=None))
        .filter(F.col("_j") >= threshold)
        .select("id1", "id2", F.round(F.col("_j"), 6).alias("jaccard"))
    )


def simhash_signatures(
    df: DataFrame, id_col: str, feature_col: Column
) -> DataFrame:
    """(id, simhash) via explode + grouped conditional sums — the scale
    path: each feature is hashed exactly once, the 64 bit-votes are a
    single codegen'd hash aggregate, and parallelism follows the data.
    One shuffle keyed on the id (map-side partial aggregation applies)."""
    ex = df.select(F.col(id_col).alias("_id"), F.explode(feature_col).alias("_f"))
    hashed = ex.select("_id", F.xxhash64("_f").alias("_h"))
    votes = hashed.groupBy("_id").agg(
        *[
            F.sum(
                F.when(F.shiftright("_h", i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"_b{i}")
            for i in range(64)
        ]
    )
    acc = None
    for i in range(64):
        bit = F.when(
            F.col(f"_b{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)
        ).otherwise(F.lit(0).cast("long"))
        acc = bit if acc is None else acc.bitwiseOR(bit)
    return votes.select("_id", acc.alias("_sh"))


def simhash_near_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    ngram: int = 3,
    target_partitions: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by SimHash hamming distance <= ``max_hamming``.

    Features are word ``ngram`` shingles (unigrams make unrelated documents
    over a small shared vocabulary collide — sets, not sequences, drive the
    hash). Candidate generation is byte-banded (the pigeonhole trick): two
    hashes within hamming distance 7 must agree on at least one of 8 bytes,
    so the join key is (byte index, byte value) — an equi-join, never
    all-pairs. Exact hamming (bit_count of xor) then filters candidates.

    The 8-band pigeonhole only guarantees recall for ``max_hamming <= 7``
    (d differing bits can spoil at most d bytes; recall needs d < bands);
    larger values would silently miss true pairs, so they are rejected.
    """
    if not 0 <= max_hamming <= 7:
        raise ValueError(
            f"max_hamming={max_hamming} outside [0, 7]: the 8-byte pigeonhole "
            "band join only guarantees candidate recall for hamming <= 7 "
            "(use more/narrower bands for larger radii)"
        )
    # Materialize the signature table ONCE (eager barrier): ``banded``
    # below feeds BOTH sides of the band self-join, and without a barrier
    # Catalyst replays the whole scan -> tokenize -> shingle -> explode ->
    # 64-vote aggregate subtree per side (the r12 before-plan shows the
    # signature pipeline twice). The barrier frame is (id, 64-bit long) —
    # bytes per row — so this is the canonical "persist the fingerprint
    # table, not the payloads" index shape at any scale.
    sh = barrier(
        simhash_signatures(
            widen(df, target_partitions), id_col, shingles(tokens(text_col), ngram)
        )
    )
    banded = sh.select(
        "_id",
        "_sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("b"),
                        F.shiftright("_sh", 8 * i).bitwiseAND(F.lit(255)).alias("v"),
                    )
                    for i in range(8)
                ]
            )
        ).alias("_band"),
    )
    a = banded.select(F.col("_id").alias("id1"), F.col("_sh").alias("_h1"), "_band")
    b = banded.select(F.col("_id").alias("id2"), F.col("_sh").alias("_h2"), "_band")
    return (
        a.join(b, "_band")
        .filter(F.col("id1") < F.col("id2"))
        .dropDuplicates(["id1", "id2"])
        .withColumn("hamming", F.bit_count(F.col("_h1").bitwiseXOR(F.col("_h2"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id1", "id2", "hamming")
    )


def ngram_containment_pairs(
    corpus: DataFrame,
    probes: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Cross-corpus n-gram CONTAINMENT — the benchmark-decontamination
    operator: for each ``probes`` document (eval/benchmark side), find
    ``corpus`` documents (training side) sharing >= ``threshold`` of the
    probe's distinct word n-grams. Asymmetric by design: containment is
    ``|overlap| / |probe shingles|``, so a short eval item buried inside a
    long training document still scores ~1 where symmetric Jaccard would
    vanish — which is exactly why decontamination cannot be served by the
    dedup operators.

    Scale shape: inverted-index equi-join on the shingle — the PROBE side
    (benchmarks: small, bounded) is exploded in full; the corpus side is
    the 100 TB one and contributes one index row per (doc, shingle), never
    a pairwise product. Join fan-out per shingle is |corpus docs with it| ×
    |probe docs with it|; the second factor is tiny by construction, so the
    O(df²) blow-up mode of symmetric self-joins doesn't exist here.
    ``max_df`` optionally drops stop-shingles from the CORPUS index (lossy;
    off by default — with word 5-grams, high-df shingles are rare).

    Output: (corpus_id, probe_id, containment) rounded to 6 digits.
    """
    def side(df: DataFrame, out_id: str) -> DataFrame:
        return widen(df).select(
            F.col(id_col).alias(out_id),
            shingles(tokens(F.col(text_col)), n).alias("_s"),
        )

    c = side(corpus, "corpus_id").select(
        "corpus_id", F.explode("_s").alias("_g")
    )
    if max_df is not None:
        df_counts = c.groupBy("_g").count().filter(F.col("count") <= max_df)
        c = c.join(df_counts.select("_g"), "_g")
    p = side(probes, "probe_id")
    p_idx = p.select("probe_id", F.size("_s").alias("_np"), F.explode("_s").alias("_g"))
    hits = (
        c.join(p_idx, "_g")
        .groupBy("corpus_id", "probe_id", "_np")
        .agg(F.count("*").alias("_inter"))
    )
    # Threshold on the unrounded ratio (oracle parity); round in projection.
    return (
        hits.withColumn("_ratio", F.col("_inter") / F.col("_np"))
        .filter(F.col("_ratio") >= threshold)
        .select(
            "corpus_id", "probe_id", F.round(F.col("_ratio"), 6).alias("containment")
        )
    )


def incremental_dedup(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    num_hashes: int = 128,
    bands: int = 32,
) -> DataFrame:
    """Dedup a NEW INGEST BATCH against a standing corpus — the production
    dedup mode: the corpus is indexed, the (small) batch probes it; corpus
    rows are never compared with each other. A batch row is dropped if the
    corpus holds an exact duplicate (sha256) OR a near-duplicate (trigram
    Jaccard >= ``threshold``, candidates from the banded MinHash equi-join
    probing the corpus index).

    Scale shape: exact pass is one left-anti join on the 32-byte hash; the
    near pass joins the batch's band keys against the corpus's — join
    fan-out is |batch| x (corpus rows per collided bucket), linear in the
    batch, never quadratic in the corpus. Both passes shuffle fingerprints
    and band keys, not documents. (Batch-internal duplicates are the
    ordinary :func:`exact_dedup` / pair ops' job — run them first; this
    operator's contract is batch-vs-corpus only.)

    At production scale the corpus-side band index is PERSISTED (it only
    changes when the corpus does) and each ingest run pays only the batch
    side plus the probe join; this function recomputes it per call because
    the correctness harness owns no storage between runs.

    Returns the surviving batch rows (original columns).
    """
    fp = F.sha2(F.col(text_col), 256)
    sh = shingles(tokens(F.col(text_col)), n)
    target = int(corpus.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    # Materialize the corpus INDEX once — (id, content hash, shingle set).
    # Fingerprint anti-join, band keys and candidate verification all read
    # this one artifact; the barrier also keeps the shingle expression out
    # of the band-key codegen (see minhash_lsh_pairs — the inlined form's
    # compile time dominates). This is the in-process analog of the
    # persisted corpus index the production note below describes. The
    # corpus is a union-shaped input, so the target width is passed
    # explicitly (widen's probe path is expensive on multi-branch plans).
    c_idx = barrier(
        widen(
            corpus.select(
                F.col(id_col).alias("_cid"), fp.alias("_cfp"), sh.alias("_csh")
            ),
            target_partitions=target,
        )
    )
    return incremental_dedup_against_index(
        c_idx,
        batch,
        id_col,
        text_col,
        n=n,
        threshold=threshold,
        num_hashes=num_hashes,
        bands=bands,
    )


def build_incremental_index(
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    out_dir: str,
    n: int = 3,
    num_hashes: int = 128,
    bands: int = 32,
) -> None:
    """Materialize the corpus dedup index as THREE parquet sub-tables —
    the PERSISTED artifacts of the production ingest path, each sized for
    exactly one probe join:

    * ``fps/``   — distinct ``_cfp`` sha256 fingerprints (exact pass);
    * ``bands/`` — ``(_cid, _bucket)`` LSH band keys, PRE-EXPLODED
      (candidate generation — the per-corpus-row band hashing runs at
      build time, never per ingest);
    * ``docs/``  — ``(_cid, _csh)`` shingle sets (candidate verification).

    The index only changes when the corpus does, so each ingest run pays
    only the batch side plus the probe joins
    (:func:`incremental_dedup_persisted` — no corpus re-tokenization, no
    shingle or band-key recompute; every corpus-side join input is a plain
    scan of one of these tables). The LSH parameters ``n``/``num_hashes``/
    ``bands`` are baked into the artifacts, so they are persisted alongside
    them (``_PARAMS.json``) and the probe loads them back — a probe with
    mismatched band hashing would silently generate zero candidates.
    Commit protocol: the top-level ``_COMMITTED`` marker is deleted before
    any write and created after ALL writes, so a crash mid-REBUILD of an
    existing index (some sub-tables new, some stale, every per-table
    ``_SUCCESS`` present) is still detected as torn. At 100 TB the writes
    are partitioned by a hash of ``_cid`` and appended incrementally as
    the corpus grows."""
    import os as _os

    from irio_mapreduce_spark.llm import artifacts

    fp = F.sha2(F.col(text_col), 256)
    sh = shingles(tokens(F.col(text_col)), n)
    rows_per_band = num_hashes // bands
    target = int(corpus.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    artifacts.begin_build(out_dir)
    # Build PRE-WIDENED and checkpoint once: the three writes all read this
    # (a 1-2-file layout made the probe's corpus scan single-threaded —
    # measured 16.8 s vs 6.1 s for the rebuild path at sf0.1).
    idx = barrier(
        widen(
            corpus.select(
                F.col(id_col).alias("_cid"), fp.alias("_cfp"), sh.alias("_csh")
            ),
            target_partitions=target,
        )
    )
    try:
        idx.select("_cid", "_csh").write.mode("overwrite").parquet(
            _os.path.join(out_dir, "docs")
        )
        idx.select(F.col("_cfp").alias("_fp")).distinct().write.mode(
            "overwrite"
        ).parquet(_os.path.join(out_dir, "fps"))
        idx.select(
            "_cid",
            banded_explode("_csh", bands, rows_per_band).alias("_bucket"),
        ).write.mode("overwrite").parquet(_os.path.join(out_dir, "bands"))
    finally:
        free_checkpoint(idx)
    artifacts.commit(out_dir, {"n": n, "num_hashes": num_hashes, "bands": bands})


def incremental_index_params(out_dir: str) -> dict | None:
    """The build parameters of a COMMITTED index, or ``None`` when the
    index is missing or torn (see ``llm.artifacts`` for the manifest
    protocol and why per-table markers alone are insufficient)."""
    from irio_mapreduce_spark.llm import artifacts

    return artifacts.committed_params(out_dir, ("docs", "fps", "bands"))


def incremental_index_is_committed(out_dir: str) -> bool:
    """True when the index directory holds a complete, single-generation
    build (see :func:`incremental_index_params`)."""
    return incremental_index_params(out_dir) is not None


def incremental_dedup_persisted(
    index_dir: str,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
) -> DataFrame:
    """Steady-state incremental dedup: probe a persisted
    :func:`build_incremental_index` directory. All corpus-side work
    happened at build time; this plan tokenizes only the batch. The LSH
    parameters (shingle ``n``, ``num_hashes``, ``bands``) come from the
    index's own ``_COMMITTED`` manifest — the batch MUST be shingled and
    band-hashed identically to the corpus or the candidate join matches
    nothing."""
    import os as _os

    spark = batch.sparkSession
    params = incremental_index_params(index_dir)
    if params is None:
        raise ValueError(
            f"incremental index at {index_dir} is missing or torn "
            "(no _COMMITTED manifest / sub-table _SUCCESS) — rebuild it "
            "with build_incremental_index"
        )
    return _probe_corpus_index(
        c_fps=spark.read.parquet(_os.path.join(index_dir, "fps")),
        c_bands=spark.read.parquet(_os.path.join(index_dir, "bands")),
        c_docs=spark.read.parquet(_os.path.join(index_dir, "docs")),
        batch=batch,
        id_col=id_col,
        text_col=text_col,
        n=params["n"],
        threshold=threshold,
        num_hashes=params["num_hashes"],
        bands=params["bands"],
    )


def incremental_dedup_against_index(
    index: DataFrame,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    num_hashes: int = 128,
    bands: int = 32,
) -> DataFrame:
    """The probe half of :func:`incremental_dedup`, against an in-memory
    corpus index ``(_cid, _cfp, _csh)`` (the checkpoint that function
    builds); the corpus band keys are derived here. For a persisted index
    use :func:`incremental_dedup_persisted`, which reads them
    pre-exploded."""
    rows_per_band = num_hashes // bands
    return _probe_corpus_index(
        c_fps=index.select(F.col("_cfp").alias("_fp")).distinct(),
        c_bands=index.select(
            "_cid",
            banded_explode("_csh", bands, rows_per_band).alias("_bucket"),
        ),
        c_docs=index.select("_cid", "_csh"),
        batch=batch,
        id_col=id_col,
        text_col=text_col,
        n=n,
        threshold=threshold,
        num_hashes=num_hashes,
        bands=bands,
    )


def _probe_corpus_index(
    c_fps: DataFrame,
    c_bands: DataFrame,
    c_docs: DataFrame,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    num_hashes: int = 128,
    bands: int = 32,
    keep_shingles: str | None = None,
) -> DataFrame:
    """Core probe: exact anti-join on ``c_fps`` (column ``_fp``), LSH
    candidate join on ``c_bands`` (``_cid, _bucket``), exact-Jaccard
    verification on ``c_docs`` (``_cid, _csh``). Linear in the batch,
    never quadratic in the corpus. ``keep_shingles``: also return the
    surviving rows' shingle sets under that column name (computed once
    here anyway; survivors-indexing callers reuse them)."""
    fp = F.sha2(F.col(text_col), 256)
    sh = shingles(tokens(F.col(text_col)), n)
    rows_per_band = num_hashes // bands
    # The batch is small by contract; materialize its survivors' index the
    # same way (referenced by band probing, verification and the keep join).
    # r12 (guide §1.3): ONE eager checkpoint instead of two — the shingle
    # column rides the exact-pass survivors, so the survivors frame and the
    # probe-side shingle index land in a single materialization job and the
    # shingles compute once.
    combined = barrier(
        batch.withColumn("_fp", fp)
        .join(c_fps, "_fp", "left_anti")
        .drop("_fp")
        .withColumn("_bsh", sh)
    )
    survivors = combined.drop("_bsh")
    b_idx = combined.select(F.col(id_col).alias("_bid"), "_bsh")
    b_bands = b_idx.select(
        "_bid",
        banded_explode("_bsh", bands, rows_per_band).alias("_bucket"),
    )
    cand = (
        b_bands.join(c_bands, "_bucket")
        .select("_bid", "_cid")
        .dropDuplicates(["_bid", "_cid"])
    )
    near_hit = (
        cand.join(b_idx, "_bid")
        .join(c_docs, "_cid")
        .filter(jaccard(F.col("_bsh"), F.col("_csh"), digits=None) >= threshold)
        .select(F.col("_bid").alias(id_col))
        .distinct()
    )
    if keep_shingles:
        # Survivors with their already-computed shingle sets attached —
        # callers that index the survivors (index_maintenance_handler)
        # would otherwise re-tokenize and re-shingle the same rows.
        return combined.withColumnRenamed("_bsh", keep_shingles).join(
            near_hit, id_col, "left_anti"
        )
    return survivors.join(near_hit, id_col, "left_anti")


def _bloom_bit_positions(fp_col: Column, num_bits: int, num_hashes: int) -> list[Column]:
    """The k probe positions of a fingerprint in an ``num_bits``-bit Bloom
    filter: independent 64-bit xxhash64 draws (seeded by hashing the
    fingerprint together with the probe index) folded into [0, num_bits)."""
    return [
        F.pmod(F.xxhash64(fp_col, F.lit(s)), F.lit(num_bits))
        for s in range(num_hashes)
    ]


def bloom_prefiltered_new(
    corpus: DataFrame,
    batch: DataFrame,
    fingerprint: Column,
    expected_items: int = 1_000_000,
    bits_per_item: int = 10,
    num_hashes: int = 7,
) -> DataFrame:
    """EXACT "which batch rows are new" (fingerprint not present in the
    corpus), with a Bloom-filter prefilter in front of the anti-join — the
    100 TB shape of membership dedup. The corpus is summarized ONCE into an
    ``expected_items * bits_per_item``-bit Bloom sketch (~1% false
    positives at 10 bits/item, k=7); the batch probes the sketch, and only
    the "maybe duplicate" fingerprints ever touch the real corpus. Bloom
    filters have NO false negatives, so sketch-rejected rows are
    definitively new — while the output stays bit-identical to the plain
    anti-join (false positives are re-checked exactly; they cost shuffle
    bytes, never correctness).

    OSS Spark keeps ``bloom_filter_agg``/``might_contain`` internal to the
    optimizer's runtime-filter injection, so the sketch is built and probed
    with the engine's public algebra, fully distributed end to end:

    * build — each corpus fingerprint explodes into its k bit positions;
      ``groupBy(word).agg(bit_or(mask))`` assembles the filter with
      map-side partial aggregation. The word table (``num_bits/64`` rows,
      125 KiB at 1M items) IS the persistable index artifact; it never
      visits the driver.
    * probe — batch fingerprints explode into their k positions and
      broadcast-join the word table; ``groupBy(fp).agg(bool_and(hit))``
      decides membership. The shuffle carries (fingerprint, bool) pairs,
      never batch payloads.
    * recheck — only the maybe-fingerprints semi-join the corpus; the
      surviving duplicate-fingerprint set (≤ |batch| rows, usually tiny)
      anti-joins back against the batch under a broadcast hint, so the
      full batch rows are NEVER shuffled at all.

    (Embedding the sketch as a plan literal instead was measured and
    rejected: a 15k-element array literal costs ~7 s of py4j marshaling,
    and a 1 MB bit-string literal sends codegen off a cliff — the
    broadcast word-table join is both simpler and faster.)

    Returns the surviving (new) batch rows with their original columns.
    """
    corpus_fp = corpus.select(fingerprint.alias("_fp"))
    probed = bloom_probe(
        corpus_fp,
        batch.select(fingerprint.alias("_fp")),
        expected_items * bits_per_item,
        num_hashes,
    )
    dup_fps = (
        probed.filter(F.col("_maybe"))
        .select("_fp")
        .join(corpus_fp, "_fp", "left_semi")
    )
    return (
        batch.withColumn("_fp", fingerprint)
        .join(F.broadcast(dup_fps), "_fp", "left_anti")
        .drop("_fp")
    )


def bloom_probe(
    corpus_fp: DataFrame,
    batch_fp: DataFrame,
    num_bits: int,
    num_hashes: int,
) -> DataFrame:
    """Build the Bloom word table over ``corpus_fp._fp`` and probe it with
    ``batch_fp._fp``; returns one row per distinct batch fingerprint with
    a ``_maybe`` membership verdict. Factored out of
    :func:`bloom_prefiltered_new` so tests can measure the probe's actual
    selectivity (maybe-slice size) rather than only end-to-end equality.
    """
    # 1 << i as signed int64 (bit 63 wraps to the sign bit); indexed by
    # element_at so no column-valued shift is needed (Spark's shiftleft
    # only takes a literal shift amount).
    masks_lit = F.lit(
        [(1 << i) - (2**64 if i == 63 else 0) for i in range(64)]
    )

    def _word_mask(bit_col: Column) -> list[Column]:
        # shiftright(b, 6) == b div 64 for the non-negative bit positions
        # here — all-integer, where the previous (b / 64).cast("long")
        # round-tripped through a double and would lose exactness past
        # 2^53 bits.
        return [
            F.shiftright(bit_col.cast("long"), 6).alias("_w"),
            F.element_at(masks_lit, ((bit_col % 64) + 1).cast("int")).alias("_m"),
        ]

    words = (
        corpus_fp.select(
            F.explode(
                F.array(*_bloom_bit_positions(F.col("_fp"), num_bits, num_hashes))
            ).alias("_bit")
        )
        .select(*_word_mask(F.col("_bit")))
        .groupBy("_w")
        .agg(F.bit_or("_m").alias("_word"))
    )
    return (
        batch_fp.select(
            "_fp",
            F.explode(
                F.array(*_bloom_bit_positions(F.col("_fp"), num_bits, num_hashes))
            ).alias("_bit"),
        )
        .select("_fp", *_word_mask(F.col("_bit")))
        .join(F.broadcast(words), "_w", "left")
        # missing word row (or empty corpus) => bit unset => not a member
        .withColumn(
            "_hit",
            F.coalesce(F.col("_word").bitwiseAND(F.col("_m")) != 0, F.lit(False)),
        )
        .groupBy("_fp")
        .agg(F.bool_and("_hit").alias("_maybe"))
    )


def duplicate_substring_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 8,
) -> DataFrame:
    """Exact duplicate-substring detection (the suffix-array dedup of Lee
    et al. 2021, "Deduplicating Training Data Makes Language Models
    Better", restated Spark-first): every ``window``-token sliding gram of
    every document is fingerprinted; grams occurring in >= 2 DISTINCT
    documents mark their positions as duplicated; per document, overlapping
    / adjacent duplicated grams merge into maximal spans (gap-and-islands).

    Output: one row per document that contains at least one cross-document
    duplicate span — (id, n_tokens, n_spans, dup_tokens), where
    ``dup_tokens`` is the union length of covered token ranges (the
    duplicated fraction is ``dup_tokens / n_tokens``, left as integers so
    the row is exact). This is the signal a curation pipeline thresholds
    on to cut boilerplate-heavy documents or to clip the spans themselves.

    Scale shape: the gram table is one row per (doc, position) carrying an
    8-byte xxhash64 fingerprint — never the gram text; the duplicated-gram
    test is a partial-aggregable ``min(id) <> max(id)`` groupBy (no
    count-distinct dedup state), and positions return via a left-semi join
    on the same 8-byte key, so both shuffles move (id, pos, hash64) rows
    only. The per-doc island merge is one window partitioned by id. A
    64-bit fingerprint collision could merge two unrelated grams (the
    standard Lee-et-al trade; ~1e-10 at 1e5 grams, and only ever
    *overstates* duplication by one window).
    """
    toks = tokens(F.col(text_col))
    base = (
        df.select(F.col(id_col).alias("_id"), toks.alias("_t"))
        .withColumn("_n", F.size("_t"))
        .filter(F.col("_n") >= window)
    )
    grams = base.select(
        "_id",
        "_n",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.col("_n") - window + 1),
                lambda i: F.xxhash64(F.concat_ws(" ", F.slice("_t", i, window))),
            )
        ).alias("_p0", "_g"),
    ).select("_id", "_n", (F.col("_p0") + 1).alias("_i"), "_g")
    dup_grams = (
        grams.groupBy("_g")
        .agg(F.min("_id").alias("_mn"), F.max("_id").alias("_mx"))
        .filter(F.col("_mn") != F.col("_mx"))
        .select("_g")
    )
    pos = grams.join(dup_grams, "_g", "left_semi")
    by_doc = Window.partitionBy("_id").orderBy("_i")
    islands = (
        pos.withColumn("_prev", F.lag("_i").over(by_doc))
        .withColumn(
            "_new",
            (F.col("_prev").isNull() | (F.col("_i") - F.col("_prev") > window))
            .cast("int"),
        )
        .withColumn("_isl", F.sum("_new").over(by_doc))
    )
    spans = islands.groupBy("_id", "_n", "_isl").agg(
        F.min("_i").alias("_s"), (F.max("_i") + window - 1).alias("_e")
    )
    return (
        spans.groupBy("_id", "_n")
        .agg(
            F.count("*").cast("long").alias("n_spans"),
            F.sum(F.col("_e") - F.col("_s") + 1).cast("long").alias("dup_tokens"),
        )
        .select(
            F.col("_id").alias(id_col),
            F.col("_n").cast("long").alias("n_tokens"),
            "n_spans",
            "dup_tokens",
        )
    )


def paragraph_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 10,
) -> DataFrame:
    """CCNet-style SUB-DOCUMENT dedup (Wenzek et al. 2020): hash each
    paragraph, drop every paragraph already seen elsewhere in the corpus
    (keep-first by the deterministic ``(doc_id, position)`` order), and
    reassemble each document from its surviving paragraphs. This is the
    Common-Crawl curation step that removes boilerplate (headers, cookie
    banners, license blurbs) that exact whole-doc dedup cannot touch.

    The test corpus is single-line text, so "paragraph" here is the
    deterministic analog: non-overlapping ``chunk_tokens``-token windows
    (real corpora split on blank lines — same plan with
    ``split(text, '\\n\\n')``).

    Scale design: paragraphs dedup on a 32-byte ``sha2`` key — the
    keep-first winner is one ``row_number`` per hash partition (balanced:
    hash keys, not doc keys), and reassembly is one groupBy(doc) over the
    SURVIVING paragraphs only. Two shuffles total, both of the paragraph
    relation; nothing is ever quadratic and no full-document payload
    repeats per paragraph. Reference parity: the keep-first contract is
    the reduce-first-per-key encoding (SURVEY.md §2.2 dedup family).

    Output: (doc_id, n_chunks, n_kept, rebuilt_text) — ``rebuilt_text``
    joins surviving chunks in position order with single spaces, so a
    document with no duplicated chunks rebuilds to exactly its normalized
    token stream; a fully-duplicated document rebuilds to ``''``.
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.filter(
            # NULL text behaves like empty text (split(NULL) would
            # otherwise NULL-poison n_chunks past the size==0 guard)
            F.split(F.lower(F.trim(F.coalesce(F.col(text_col), F.lit("")))), r"\s+"),
            lambda t: t != "",
        ).alias("toks"),
    )
    # Materialize the token array in its own stage, then chunk over it —
    # chunking inside the same projection would re-run the split per
    # chunk (the nested-HOF re-evaluation trap, measured at sf0.1).
    n_chunks = ((F.size("toks") + chunk_tokens - 1) / chunk_tokens).cast("int")
    chunked = toks.select(
        "doc_id",
        F.when(F.size("toks") == 0, F.array().cast("array<string>"))
        .otherwise(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: F.array_join(
                    F.slice("toks", i * chunk_tokens + 1, chunk_tokens), " "
                ),
            )
        )
        .alias("chunks"),
    ).persist()  # both the explode path and `totals` read it; one chunking pass, not two
    ch = chunked.select("doc_id", F.posexplode("chunks").alias("cpos", "chunk"))
    w = Window.partitionBy(F.sha2(F.col("chunk"), 256)).orderBy("doc_id", "cpos")
    kept = ch.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    kept_agg = kept.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("cpos", "chunk"))),
                lambda s: s["chunk"],
            ),
            " ",
        ).alias("rebuilt_text"),
    )
    totals = chunked.select(
        "doc_id", F.size("chunks").cast("long").alias("n_chunks")
    )
    return totals.join(kept_agg, "doc_id", "left").select(
        "doc_id",
        "n_chunks",
        F.coalesce("n_kept", F.lit(0).cast("long")).alias("n_kept"),
        F.coalesce("rebuilt_text", F.lit("")).alias("rebuilt_text"),
    )


def _write_index_segment(
    idx: DataFrame, out_dir: str, seg: str, bands: int, rows_per_band: int
) -> None:
    """Write one GENERATION of the three index sub-tables as
    ``seg=<seg>`` partition directories (``docs/ fps/ bands/`` under
    ``out_dir``). ``idx`` is a materialized ``(_cid, _cfp, _csh)`` frame.
    Overwrite mode per segment path is the idempotence primitive: a
    replayed micro-batch rewrites ITS OWN directory and can never
    duplicate rows into the index. Per-segment ``fps`` distinct is
    sufficient — the probe uses the table as an anti-join set, where
    cross-segment duplicates change bytes, never results."""
    import os as _os

    idx.select("_cid", "_csh").write.mode("overwrite").parquet(
        _os.path.join(out_dir, "docs", f"seg={seg}")
    )
    idx.select(F.col("_cfp").alias("_fp")).distinct().write.mode(
        "overwrite"
    ).parquet(_os.path.join(out_dir, "fps", f"seg={seg}"))
    idx.select(
        "_cid",
        banded_explode("_csh", bands, rows_per_band).alias("_bucket"),
    ).write.mode("overwrite").parquet(
        _os.path.join(out_dir, "bands", f"seg={seg}")
    )


def build_streaming_index_base(
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    out_dir: str,
    n: int = 3,
    num_hashes: int = 128,
    bands: int = 32,
) -> None:
    """Base generation of a STREAM-MAINTAINED dedup index: the same three
    artifacts as :func:`build_incremental_index`, laid out as
    ``seg=base`` partition directories so ``foreachBatch`` maintenance
    (:func:`index_maintenance_handler`) can append per-micro-batch
    ``seg=b<batchId>`` generations idempotently. Readers scan the parent
    sub-table paths and see the union of all generations; partition
    discovery carries the segment name for exclusion filters. Same
    commit protocol as the batch builder (``_COMMITTED`` manifest over
    the whole tree)."""
    import os as _os

    from irio_mapreduce_spark.llm import artifacts

    fp = F.sha2(F.col(text_col), 256)
    sh = shingles(tokens(F.col(text_col)), n)
    rows_per_band = num_hashes // bands
    target = int(
        corpus.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    artifacts.begin_build(out_dir)
    idx = barrier(
        widen(
            corpus.select(
                F.col(id_col).alias("_cid"), fp.alias("_cfp"), sh.alias("_csh")
            ),
            target_partitions=target,
        )
    )
    try:
        _write_index_segment(idx, out_dir, "base", bands, rows_per_band)
    finally:
        free_checkpoint(idx)
    artifacts.commit(
        out_dir,
        {
            "n": n,
            "num_hashes": num_hashes,
            "bands": bands,
            "layout": "segmented",
        },
    )


def streaming_index_params(out_dir: str) -> dict | None:
    """Committed-manifest check for the SEGMENTED layout: the base
    generation's ``_SUCCESS`` markers live under ``<table>/seg=base``
    (streamed ``seg=b*`` generations are maintained by the foreachBatch
    handler and carry their own per-write markers)."""
    from irio_mapreduce_spark.llm import artifacts

    return artifacts.committed_params(
        out_dir, ("docs/seg=base", "fps/seg=base", "bands/seg=base")
    )


def index_maintenance_handler(
    index_dir: str, id_col: str, text_col: str, threshold: float = 0.8
):
    """The STEADY-STATE INGEST LOOP as a ``foreachBatch`` handler: each
    document micro-batch is deduped against every EXISTING index
    generation (exact fingerprints, LSH candidates, exact-Jaccard
    verification — :func:`_probe_corpus_index` over the segmented
    layout), then the SURVIVORS' artifacts are appended as generation
    ``seg=b<batchId>`` — so batch N+1 automatically dedups against
    batch N's survivors without any corpus rebuild. This is the loop
    ``dedup_incremental_persisted`` documents but runs only batch-side.

    Replay idempotence (exactly-once effect on the index): the probe
    EXCLUDES the batch's own segment (a replayed batch must see the
    same index state it saw the first time — without the exclusion its
    own earlier output would mark every row duplicate and the replay
    would overwrite the segment as empty), and the segment write is a
    per-path overwrite. Pinned by
    tests/test_streaming.py::test_index_maintenance_replay_idempotent.

    At 100 TB: per batch the corpus-side inputs are plain scans of the
    three sub-tables (no re-tokenization), the probe joins are linear
    in the batch, and the appended segment is linear in the batch's
    survivors; periodic compaction of many small ``seg=b*`` generations
    into a new base is the same operation as the initial build."""
    params = streaming_index_params(index_dir)
    if params is None:
        raise ValueError(
            f"streaming index at {index_dir} is missing or torn — build "
            "it with build_streaming_index_base"
        )
    n, num_hashes, bands = params["n"], params["num_hashes"], params["bands"]
    rows_per_band = num_hashes // bands

    def handle(batch: DataFrame, batch_id: int) -> None:
        import os as _os

        spark = batch.sparkSession
        own = f"b{batch_id}"
        c_fps = (
            spark.read.parquet(_os.path.join(index_dir, "fps"))
            .filter(F.col("seg") != own)
            .select("_fp")
        )
        c_bands = (
            spark.read.parquet(_os.path.join(index_dir, "bands"))
            .filter(F.col("seg") != own)
            .select("_cid", "_bucket")
        )
        c_docs = (
            spark.read.parquet(_os.path.join(index_dir, "docs"))
            .filter(F.col("seg") != own)
            .select("_cid", "_csh")
        )
        survivors = _probe_corpus_index(
            c_fps,
            c_bands,
            c_docs,
            batch,
            id_col,
            text_col,
            n=n,
            threshold=threshold,
            num_hashes=num_hashes,
            bands=bands,
            keep_shingles="_kept_sh",
        )
        # r12: the probe already computed (and checkpointed) the
        # survivors' shingle sets — reuse them instead of re-tokenizing
        # and re-shingling the same rows for the segment write.
        idx = barrier(
            survivors.select(
                F.col(id_col).alias("_cid"),
                F.sha2(F.col(text_col), 256).alias("_cfp"),
                F.col("_kept_sh").alias("_csh"),
            )
        )
        try:
            _write_index_segment(idx, index_dir, own, bands, rows_per_band)
        finally:
            free_checkpoint(idx)

    return handle
