"""LLM-pipeline operator tests: dedup (exact / MinHash-LSH / SimHash /
n-gram Jaccard), similarity search (brute force vs RP-LSH recall), and the
multimodal binary plumbing. Complements the driver's oracle checks with the
properties SQL can't express (recall bounds, hamming behavior, Arrow
round-trip)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from irio_mapreduce_spark.io import read_table
from tests.conftest import local_df
from irio_mapreduce_spark.llm.dedup import (
    exact_dedup,
    near_dup_pairs_minhash,
    ngram_jaccard_pairs,
    simhash_near_pairs,
    simhash_signatures,
    tokens,
    shingles,
)
from irio_mapreduce_spark.llm.multimodal import (
    IMAGE_FEATURES_SCHEMA,
    decode_image_features,
    documents_as_media,
)
from irio_mapreduce_spark.llm.similarity import cosine_topk, ivf_topk, rp_lsh_topk

SF_DIR = "/root/testdata/sf0.01"


def test_exact_dedup_keeps_first(spark):
    df = local_df(spark, 
        [(1, "aa"), (2, "bb"), (3, "aa"), (4, "aa"), (5, "cc")], ["id", "t"]
    )
    kept = exact_dedup(
        df, fingerprint=F.sha2(F.col("t"), 256), order_by=[F.col("id")]
    )
    assert {r["id"] for r in kept.collect()} == {1, 2, 5}


def test_minhash_lsh_matches_exact_jaccard(spark):
    """At threshold 0.8 with 32 bands x 4 rows, LSH recall is ~1-6e-9 per
    pair — candidates + exact verification must equal the brute-force
    inverted-index result exactly on this corpus."""
    docs = read_table(spark, SF_DIR, "documents")
    lsh = {
        (r.id1, r.id2, r.jaccard)
        for r in near_dup_pairs_minhash(docs, "doc_id", "text").collect()
    }
    exact = {
        (r.id1, r.id2, r.jaccard)
        for r in ngram_jaccard_pairs(docs, "doc_id", "text").collect()
    }
    assert lsh == exact
    assert len(exact) == 25  # the corpus's planted near-dup pairs


def test_simhash_hamming_properties(spark):
    base = "the quick brown fox jumps over the lazy dog " * 5
    near = base.replace("lazy", "sleepy")  # one token of ~45 changed
    far = "alpha beta gamma delta epsilon zeta eta theta " * 5
    df = local_df(spark, 
        [(1, base), (2, base), (3, near), (4, far)], ["id", "text"]
    )
    h = {
        r._id: r._sh
        for r in simhash_signatures(df, "id", shingles(tokens("text"), 3)).collect()
    }

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert ham(h[1], h[2]) == 0  # identical text -> identical hash
    # the edited token recurs 5x, touching ~15 of ~45 distinct shingles
    assert ham(h[1], h[3]) <= 18
    assert ham(h[1], h[4]) >= 20  # unrelated vocab -> far


def test_simhash_separates_near_dups_from_random(spark):
    """The property that makes SimHash a dedup signal: planted near-dup
    pairs sit far below the ~32-bit hamming distance of unrelated 64-bit
    hashes. (Recall at a fixed small radius is NOT guaranteed for small
    feature sets — a J=0.97 pair can flip >3 bits — so the catalog query's
    radius-3 output is a precision-oriented subset.)"""
    docs = read_table(spark, SF_DIR, "documents")
    h = {
        r._id: r._sh
        for r in simhash_signatures(
            docs, "doc_id", shingles(tokens("text"), 3)
        ).collect()
    }

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    planted = [
        (r.id1, r.id2)
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.9).collect()
    ]
    assert planted
    near = [ham(h[a], h[b]) for a, b in planted]
    ids = sorted(h)[:40]
    near_set = set(planted)
    far = [
        ham(h[a], h[b])
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if (a, b) not in near_set
    ]
    assert max(near) <= 16
    assert sum(far) / len(far) >= 24  # random pairs average ~32

    got = simhash_near_pairs(docs, "doc_id", "text").collect()
    assert 0 < len(got) < 100  # selective, non-degenerate
    assert all(r.hamming <= 3 for r in got)


def test_rp_lsh_recall_vs_bruteforce(spark):
    emb = read_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    approx = rp_lsh_topk(
        emb, "embedding", "vec_id", queries, k=5, n_tables=8,
        planes_per_table=4, dim=64, seed=42,
    ).collect()
    got = {(r.query_id, r.vec_id) for r in approx}

    hits, total = 0, 0
    for q in queries.collect():
        exact = cosine_topk(
            emb.filter(F.col("vec_id") != q.vec_id),
            "embedding",
            "vec_id",
            [float(x) for x in q.embedding],
            k=5,
        ).collect()
        for r in exact:
            total += 1
            hits += (q.vec_id, r.vec_id) in got
    recall = hits / total
    # Deterministic (fixed seed/planes). 6 planes -> 64 buckets over 500
    # vectors; measured recall on this corpus is 0.4+; bound it loosely so
    # the test detects real regressions (e.g. bucketing bug -> recall ~0).
    assert recall >= 0.3, f"recall {recall}"


def test_rp_lsh_multiprobe_recall_and_index_size(spark):
    """Multi-probe LSH (8 tables, Hamming-1 probes) must match-or-beat the
    same 8-table single-probe configuration's recall — strictly more
    candidates per query by construction — while its CORPUS index stays
    exactly 8 rows per vector (vs 24 for the single-probe catalog entry's
    table count): the index-size-for-probe-count trade the entry claims."""
    from irio_mapreduce_spark.llm.similarity import rp_lsh_multiprobe_topk

    emb = read_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)

    def recall_of(fn):
        got = {
            (r.query_id, r.vec_id)
            for r in fn(
                emb, "embedding", "vec_id", queries, k=5, n_tables=8,
                planes_per_table=4, dim=64, seed=42,
            ).collect()
        }
        hits = total = 0
        for q in queries.collect():
            exact = cosine_topk(
                emb.filter(F.col("vec_id") != q.vec_id),
                "embedding",
                "vec_id",
                [float(x) for x in q.embedding],
                k=5,
            ).collect()
            for r in exact:
                total += 1
                hits += (q.vec_id, r.vec_id) in got
        return hits / total

    single, multi = recall_of(rp_lsh_topk), recall_of(rp_lsh_multiprobe_topk)
    assert multi >= single, (multi, single)
    assert multi >= 0.5, f"multiprobe recall {multi}"


def test_lsh_candidates_attach_each_pairs_own_vectors(spark):
    """``_lsh_candidates`` dedupes bare ``(query_id, vec_id)`` pairs and
    joins the vectors back by id, which is exact only because ids are
    unique in both inputs: the catalog queries are a filter of
    ``embeddings``, whose ``vec_id`` is a key. Each pair comes out once,
    carrying its own ids' vectors, and no vector rides the dedupe."""
    from irio_mapreduce_spark.llm.similarity import _lsh_candidates

    emb = read_table(spark, SF_DIR, "embeddings")
    assert emb.count() == emb.select("vec_id").distinct().count()
    queries = emb.filter(F.col("vec_id") < 5)
    pairs = _lsh_candidates(
        emb, "embedding", "vec_id", queries, n_tables=8, planes_per_table=4,
        dim=64, seed=42, probes=lambda keys: keys,
    )
    vec = {r.vec_id: list(r.embedding) for r in emb.collect()}
    rows = pairs.collect()
    assert rows and len({(r.query_id, r.vec_id) for r in rows}) == len(rows)
    assert all(list(r._qv) == vec[r.query_id] and list(r._cv) == vec[r.vec_id] for r in rows)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "first(" not in plan, plan


def test_ivf_recall_vs_bruteforce(spark):
    """IVF with 16 cells / 4 probes must recover a solid fraction of the
    exact top-5 — and strictly more than random cell assignment would
    (4/16 of the corpus ≈ 0.25 expected recall for a broken quantizer)."""
    emb = read_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    approx = ivf_topk(
        emb, "embedding", "vec_id", queries, k=5, n_cells=16, n_probe=4, seed=42
    ).collect()
    got = {(r.query_id, r.vec_id) for r in approx}

    hits, total = 0, 0
    for q in queries.collect():
        exact = cosine_topk(
            emb.filter(F.col("vec_id") != q.vec_id),
            "embedding",
            "vec_id",
            [float(x) for x in q.embedding],
            k=5,
        ).collect()
        for r in exact:
            total += 1
            hits += (q.vec_id, r.vec_id) in got
    recall = hits / total
    assert recall >= 0.4, f"recall {recall}"


def test_multimodal_decode_roundtrip(spark):
    media = documents_as_media(read_table(spark, SF_DIR, "documents"))
    feats = decode_image_features(media, n_features=8)
    assert feats.schema == IMAGE_FEATURES_SCHEMA
    rows = feats.collect()
    assert len(rows) == 500
    assert all(len(r.features) == 8 for r in rows)
    # Deterministic fake: re-running yields identical features.
    again = {r.media_id: r.features for r in decode_image_features(media, 8).collect()}
    assert all(again[r.media_id] == r.features for r in rows)


def test_multimodal_resize_and_frame_sample(spark):
    from irio_mapreduce_spark.llm.multimodal import resize_images, sample_frames

    media = documents_as_media(read_table(spark, SF_DIR, "documents")).limit(20)
    resized = resize_images(media, 224, 224)
    rows = resized.collect()
    assert len(rows) == 20
    assert all(r.meta.width == 224 and r.meta.height == 224 for r in rows)

    frames = sample_frames(media, every_ms=40, max_frames=4).collect()
    assert {r.media_id for r in frames} == {r.media_id for r in rows}
    per_media = {}
    for f in frames:
        per_media.setdefault(f.media_id, []).append(f)
    for fs in per_media.values():
        assert 1 <= len(fs) <= 4
        assert [f.frame_idx for f in sorted(fs, key=lambda x: x.ts_ms)] == list(
            range(len(fs))
        )


def test_multimodal_strict_raises(spark):
    media = documents_as_media(read_table(spark, SF_DIR, "documents")).limit(1)
    with pytest.raises(Exception, match="NotImplementedError|real image decode"):
        decode_image_features(media, strict=True).collect()


def test_dedup_embedding_cosine_scaled_and_near(spark):
    """Scale-variant duplicates (c*v) MUST be dropped (guaranteed LSH
    recall: positive scaling never flips a projection sign); a genuinely
    distinct vector must survive; near-but-below-threshold stays."""
    from irio_mapreduce_spark.llm.similarity import dedup_embedding_cosine

    base = [1.0, 0.5] + [0.0] * 62
    near = [1.0, 0.5 + 1e-4] + [0.0] * 62          # cosine ~ 0.999999+
    ortho = [0.0] * 62 + [1.0, -0.5]               # cosine 0 with base
    rows = [
        (0, base),
        (1, [x * 0.5 for x in base]),              # scaled dup of 0 -> drop
        (2, near),                                 # cosine > 0.99 vs 0 -> drop
        (3, ortho),                                # keep
    ]
    df = local_df(spark, rows, "vec_id long, v array<double>")
    kept = {
        r.vec_id
        for r in dedup_embedding_cosine(
            df, "v", "vec_id", threshold=0.99, dim=64
        ).collect()
    }
    assert kept == {0, 3}


def test_simhash_rejects_unreachable_hamming(spark):
    """max_hamming > 7 would silently miss pairs (8-byte pigeonhole bound)
    — the operator must refuse it."""
    from irio_mapreduce_spark.llm.dedup import simhash_near_pairs

    docs = read_table(spark, SF_DIR, "documents")
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_near_pairs(docs, "doc_id", "text", max_hamming=8)


def _union_find_components(edges, node_ids) -> dict:
    """Reference labeling: every node mapped to the minimum id of its
    component, by a plain Python union-find."""
    parent = {n: n for n in node_ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    return {n: min(m for m in node_ids if find(m) == find(n)) for n in node_ids}


def _components(spark, edges, node_ids) -> dict:
    from irio_mapreduce_spark.operators.graph import connected_components

    e_df = local_df(spark, edges, "a long, b long")
    n_df = local_df(spark, [(n,) for n in node_ids], "id long")
    return {
        r.id: r.component
        for r in connected_components(e_df, "a", "b", nodes=n_df).collect()
    }


def test_connected_components_vs_union_find(spark):
    """Min-label propagation on an adversarial graph shape mix — a long
    chain (worst case for propagation round count), two cliques bridged by
    one edge, isolated nodes from the ``nodes`` frame — must equal a plain
    Python union-find."""
    chain = [(i, i + 1) for i in range(100, 110)]
    clique_a = [(a, b) for a in range(0, 5) for b in range(a + 1, 5)]
    clique_b = [(a, b) for a in range(20, 25) for b in range(a + 1, 25)]
    bridge = [(4, 20)]
    edges = chain + clique_a + clique_b + bridge
    node_ids = sorted({n for e in edges for n in e} | {500, 501})
    assert _components(spark, edges, node_ids) == _union_find_components(
        edges, node_ids
    )


def test_connected_components_raises_without_convergence(spark):
    """A chain longer than max_iter rounds must raise, not return a
    silently half-merged labeling."""
    from irio_mapreduce_spark.operators.graph import connected_components

    chain = local_df(spark, [(i, i + 1) for i in range(8)], "a long, b long")
    with pytest.raises(RuntimeError, match="converge"):
        connected_components(chain, "a", "b", max_iter=2)


def test_deterministic_sampling_properties(spark):
    """Hash-mod sampling is (a) reproducible across partitionings, (b) near
    the nominal rate, (c) split-stable under corpus growth (a row's split
    never changes when other rows are added)."""
    from irio_mapreduce_spark.llm.sampling import (
        deterministic_sample,
        train_val_split,
    )

    docs = read_table(spark, SF_DIR, "documents").select("doc_id")
    s1 = {r.doc_id for r in deterministic_sample(docs, ["doc_id"], 20, "s").collect()}
    s2 = {
        r.doc_id
        for r in deterministic_sample(
            docs.repartition(17), ["doc_id"], 20, "s"
        ).collect()
    }
    assert s1 == s2 and s1
    n = docs.count()
    assert 0.1 * n < len(s1) < 0.3 * n  # 20% nominal, wide tolerance

    full = train_val_split(docs, ["doc_id"], val_pct=10, salt="x")
    half = train_val_split(docs.filter(F.col("doc_id") % 2 == 0), ["doc_id"],
                           val_pct=10, salt="x")
    fm = {r.doc_id: r.split for r in full.collect()}
    for r in half.collect():
        assert fm[r.doc_id] == r.split  # growth never moves rows across splits


def test_per_key_quota_cap(spark):
    from irio_mapreduce_spark.llm.sampling import per_key_quota

    docs = read_table(spark, SF_DIR, "documents").select("doc_id", "source")
    capped = per_key_quota(docs, "source", quota=5, id_col="doc_id")
    per = capped.groupBy("source").count().collect()
    assert per and all(r["count"] <= 5 for r in per)
    # deterministic: same selection on re-run
    again = per_key_quota(docs, "source", quota=5, id_col="doc_id")
    assert {r.doc_id for r in capped.collect()} == {r.doc_id for r in again.collect()}


def test_ngram_containment_finds_planted_leak(spark):
    """A probe document fully embedded in a long corpus document must be
    flagged with containment 1.0 even though symmetric Jaccard between the
    pair is tiny; unrelated probes must not be flagged."""
    from irio_mapreduce_spark.llm.dedup import ngram_containment_pairs

    leak = "the quick brown fox jumps over the lazy dog near the river bank"
    filler = " ".join(f"w{i}" for i in range(300))
    corpus = local_df(spark, 
        [(1, filler + " " + leak + " " + filler),
         (2, " ".join(f"x{i}" for i in range(100)))],
        "doc_id long, text string",
    )
    probes = local_df(spark, 
        [(10, leak), (11, "completely unrelated probe content here indeed")],
        "doc_id long, text string",
    )
    got = {
        (r.corpus_id, r.probe_id): r.containment
        for r in ngram_containment_pairs(
            corpus, probes, "doc_id", "text", n=5, threshold=0.5
        ).collect()
    }
    assert set(got) == {(1, 10)}
    assert got[(1, 10)] == 1.0


def test_token_budget_batches_contract(spark):
    """Packing contract: batches are contiguous in order, overshoot the
    budget by at most one document, and undershoot only at group end or
    when the next doc would not fit... (budget-target greedy): every batch
    except possibly the last has total >= budget - (its last doc's size)
    + 1 equivalent — concretely: removing a batch's last doc leaves
    < budget tokens."""
    from irio_mapreduce_spark.llm.sampling import token_budget_batches

    docs = read_table(spark, SF_DIR, "documents").select("doc_id", "lang", "text")
    from irio_mapreduce_spark.llm.dedup import tokens

    packed = token_budget_batches(
        docs, ["lang"], "doc_id", F.size(tokens(F.col("text"))), budget=2000
    ).select("doc_id", "lang", "n_tokens", "batch_id").collect()
    from collections import defaultdict

    by_group = defaultdict(list)
    for r in sorted(packed, key=lambda r: (r.lang, r.doc_id)):
        by_group[r.lang].append(r)
    assert len(by_group) > 1
    for lang, rows in by_group.items():
        # batch ids are non-decreasing in doc order and start at 0
        ids = [r.batch_id for r in rows]
        assert ids[0] == 0 and all(a <= b for a, b in zip(ids, ids[1:]))
        from itertools import groupby

        batches = [(k, [r.n_tokens for r in g])
                   for k, g in groupby(rows, key=lambda r: r.batch_id)]
        prefix = 0
        for i, (k, toks) in enumerate(batches):
            # within-batch span < one budget (straddler overshoot only)
            assert sum(toks) - toks[-1] < 2000
            prefix += sum(toks)
            if i < len(batches) - 1:
                # the next batch only starts once the running total has
                # crossed this batch's upper boundary
                assert prefix >= (batches[i + 1][0]) * 2000


def test_connected_components_restricts_to_declared_nodes(spark):
    """Edges touching ids outside an explicit nodes frame are dropped —
    the output contains exactly the declared ids."""
    from irio_mapreduce_spark.operators.graph import connected_components

    edges = local_df(spark, [(1, 2), (2, 99), (3, 4)], "a long, b long")
    nodes = local_df(spark, [(i,) for i in (1, 2, 3, 4, 5)], "id long")
    got = {
        r.id: r.component
        for r in connected_components(edges, "a", "b", nodes=nodes).collect()
    }
    assert got == {1: 1, 2: 1, 3: 3, 4: 3, 5: 5}


def test_connected_components_drops_null_endpoints(spark):
    """An edge with a null endpoint is dropped whole: it neither labels
    the null nor links its other endpoint. A graph of only such edges is
    empty, and its first round (an empty state) ends the loop."""
    from irio_mapreduce_spark.operators.graph import connected_components

    edges = local_df(spark, [(1, 2), (2, None), (None, 3)], "a long, b long")
    got = {r.id: r.component for r in connected_components(edges, "a", "b").collect()}
    assert got == {1: 1, 2: 1}
    only_null = edges.where("a IS NULL OR b IS NULL")
    assert connected_components(only_null, "a", "b").collect() == []


def test_incremental_dedup_batch_vs_corpus(spark):
    """Batch rows drop iff the CORPUS holds an exact or near duplicate;
    batch-internal duplicates are out of contract and survive."""
    from irio_mapreduce_spark.llm.dedup import incremental_dedup

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    corpus = local_df(spark, 
        [(1, base),                                  # exact dup of batch 10
         (2, base + " lambda mu nu"),                # near dup of batch 11
         (3, " ".join(f"c{i}" for i in range(12)))],
        "doc_id long, text string",
    )
    batch = local_df(spark, 
        [(10, base),                                 # exact -> dropped
         (11, base + " lambda mu xi"),               # near (J>=0.8) -> dropped
         (12, " ".join(f"b{i}" for i in range(12))),  # novel -> kept
         (13, " ".join(f"b{i}" for i in range(12)))],  # batch-internal dup -> kept
        "doc_id long, text string",
    )
    kept = {
        r.doc_id
        for r in incremental_dedup(corpus, batch, "doc_id", "text").collect()
    }
    assert kept == {12, 13}


def test_free_checkpoint_releases_blocks(spark):
    """ADVICE fix: free_checkpoint drops a localCheckpoint's block-manager
    blocks immediately (no waiting for ContextCleaner GC), and is a no-op
    on non-checkpointed frames. ``barrier(nxt, supersedes=old)`` frees
    ``old`` only after ``nxt`` (whose plan reads ``old``) is materialized."""
    from irio_mapreduce_spark.operators.barrier import barrier, free_checkpoint

    def persistent_count() -> int:
        m = spark.sparkContext._jsc.sc().getPersistentRDDs()
        it, n = m.iterator(), 0
        while it.hasNext():
            it.next()
            n += 1
        return n

    base = persistent_count()
    lc = spark.range(100).selectExpr("id", "id * 2 AS y").localCheckpoint(eager=True)
    assert persistent_count() == base + 1
    free_checkpoint(lc)
    assert persistent_count() == base
    # harmless on a plain (non-checkpointed) frame
    free_checkpoint(spark.range(5))

    old = barrier(spark.range(1000).selectExpr("id", "id * 2 AS y"))
    assert persistent_count() == base + 1
    nxt = barrier(old.selectExpr("id", "y + 1 AS y"), supersedes=old)
    # old's blocks are released, nxt's are pinned, and nxt still reads
    assert persistent_count() == base + 1
    assert nxt.count() == 1000
    assert nxt.agg({"y": "sum"}).collect()[0][0] == 1000 * 999 + 1000
    free_checkpoint(nxt)
    assert persistent_count() == base


def test_connected_components_frees_intermediate_checkpoints(spark):
    """The iterative loop must not leak one label-table checkpoint per
    round, nor its edge-table checkpoint: after the result is collected,
    at most the final labels frame remains pinned."""
    from irio_mapreduce_spark.operators.barrier import free_checkpoint
    from irio_mapreduce_spark.operators.graph import connected_components

    def persistent_count() -> int:
        m = spark.sparkContext._jsc.sc().getPersistentRDDs()
        it, n = m.iterator(), 0
        while it.hasNext():
            it.next()
            n += 1
        return n

    base = persistent_count()
    # a path graph forces several propagation rounds
    edges = local_df(spark, 
        [(i, i + 1) for i in range(12)], ["id1", "id2"]
    )
    out = connected_components(edges, "id1", "id2")
    rows = {(r.id, r.component) for r in out.collect()}
    assert rows == {(i, 0) for i in range(13)}
    # everything except the final labels checkpoint was freed in-loop
    assert persistent_count() <= base + 1
    free_checkpoint(out)


def test_connected_components_runs_every_job_inside_a_barrier(spark, monkeypatch):
    """Convergence is read from an Observation on each round's state,
    filled by the barrier job that materializes it, so the kernel starts
    no Spark job outside a barrier: no per-round probe job. Jobs are told
    apart by job group — the barrier runs under its own group."""
    from irio_mapreduce_spark.operators import graph

    sc = spark.sparkContext
    outside, inside = "cc_outside_barrier", "cc_inside_barrier"
    real_barrier = graph.barrier

    def recording_barrier(df, **kw):
        sc.setJobGroup(inside, inside)
        try:
            return real_barrier(df, **kw)
        finally:
            sc.setJobGroup(outside, outside)

    monkeypatch.setattr(graph, "barrier", recording_barrier)
    edges = local_df(spark, [(i, i + 1) for i in range(12)], ["id1", "id2"])
    sc.setJobGroup(outside, outside)
    try:
        out = graph.connected_components(edges, "id1", "id2")
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    # one edge barrier + one per round: 12 label-improving rounds and the
    # round that finds nothing left to improve
    assert len(tracker.getJobIdsForGroup(inside)) >= 14
    assert tracker.getJobIdsForGroup(outside) == []
    assert {(r.id, r.component) for r in out.collect()} == {(i, 0) for i in range(13)}


def test_ivf_topk_empty_corpus_raises_clearly(spark):
    """ADVICE fix: an empty training sample raises a clear ValueError, not
    an opaque rng.integers(0) crash."""
    from pyspark.sql import types as T

    import pytest

    from irio_mapreduce_spark.llm.similarity import ivf_topk

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    empty = local_df(spark, [], schema)
    with pytest.raises(ValueError, match="training sample is empty"):
        ivf_topk(empty, "embedding", "vec_id", empty, k=3).collect()


def test_chunk_list_overlap_contract(spark):
    """Chunking contract: chunk 0 starts at token 0; adjacent chunks
    overlap by chunk_size - stride tokens; every token appears in some
    chunk; short docs yield exactly one chunk."""
    from irio_mapreduce_spark.llm.dedup import tokens
    from irio_mapreduce_spark.llm.text import chunk_list

    import pyspark.sql.functions as F

    docs = local_df(spark, 
        [
            (1, " ".join(f"t{i}" for i in range(40))),  # 40 toks -> 3 chunks
            (2, " ".join(f"t{i}" for i in range(16))),  # exactly chunk_size
            (3, "one two three"),  # short -> 1 chunk
        ],
        ["doc_id", "text"],
    )
    toks = docs.select("doc_id", tokens(F.col("text")).alias("toks"))
    out = toks.select(
        "doc_id", F.posexplode(chunk_list(F.col("toks"))).alias("idx", "chunk")
    ).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, {})[r.idx] = r.chunk.split(" ")
    # doc 1: ceil((40-16)/12)+1 = 3 chunks; starts at 0, 12, 24
    assert sorted(by_doc[1]) == [0, 1, 2]
    assert by_doc[1][0] == [f"t{i}" for i in range(16)]
    assert by_doc[1][1][:4] == [f"t{i}" for i in range(12, 16)]  # 4-token overlap
    assert by_doc[1][2] == [f"t{i}" for i in range(24, 40)]  # full tail window
    # coverage: union of chunks == all tokens
    assert set().union(*by_doc[1].values()) == {f"t{i}" for i in range(40)}
    assert sorted(by_doc[2]) == [0] and len(by_doc[2][0]) == 16
    assert by_doc[3] == {0: ["one", "two", "three"]}


def test_repetition_shares(spark):
    """max_token_share / max_bigram_share on hand-built docs with known
    multiplicities, including the looped-phrase case that token share
    alone misses."""
    import pyspark.sql.functions as F

    from irio_mapreduce_spark.llm.text import max_bigram_share, max_token_share

    docs = local_df(spark, 
        [
            (1, "a b a c a d"),  # 'a' x3 of 6 tokens
            (2, "x y x y x y x y"),  # looped phrase: 'x y' 4 of 7 bigrams
            (3, "u v w"),  # all unique
        ],
        ["doc_id", "text"],
    )
    out = {
        r.doc_id: (r.ts, r.bs)
        for r in docs.select(
            "doc_id",
            max_token_share(F.col("text")).alias("ts"),
            max_bigram_share(F.col("text")).alias("bs"),
        ).collect()
    }
    assert abs(out[1][0] - 3 / 6) < 1e-12
    assert abs(out[2][0] - 4 / 8) < 1e-12
    assert abs(out[2][1] - 4 / 7) < 1e-12  # 'x y' dominates bigrams
    assert abs(out[3][0] - 1 / 3) < 1e-12
    assert abs(out[3][1] - 1 / 2) < 1e-12


def test_pii_redaction_masks_and_preserves(spark):
    """redact_pii masks emails and phone-like groups, leaves clean text
    byte-identical, and is idempotent (re-redacting changes nothing)."""
    import pyspark.sql.functions as F

    from irio_mapreduce_spark.llm.text import redact_pii

    docs = local_df(spark, 
        [
            (1, "write to alice.smith+x@sub.example.co.uk today"),
            (2, "call 555-0142 or 555 0143 now"),
            (3, "no pii here, just text with @ alone and 12-34"),
        ],
        ["doc_id", "text"],
    )
    red = docs.select(
        "doc_id",
        redact_pii(F.col("text")).alias("r1"),
        redact_pii(redact_pii(F.col("text"))).alias("r2"),
    ).collect()
    by_id = {r.doc_id: r for r in red}
    assert by_id[1].r1 == "write to <EMAIL> today"
    assert by_id[2].r1 == "call <PHONE> or <PHONE> now"
    assert by_id[3].r1 == docs.filter("doc_id=3").head().text  # untouched
    for r in red:
        assert r.r1 == r.r2  # idempotent


def test_mixture_resample_contract(spark):
    """Mixture resampling: integer weights replicate exactly; fractional
    weights realize floor/ceil with hash-decided extras; the multiset is
    invariant under repartitioning; copy ids are dense from 0."""
    import pyspark.sql.functions as F

    from irio_mapreduce_spark.llm.sampling import mixture_resample

    rows = [(i, "a" if i % 2 == 0 else "b") for i in range(200)]
    df = local_df(spark, rows, ["id", "grp"])
    wt = F.when(F.col("grp") == "a", 3.0).otherwise(0.5)
    out = mixture_resample(df, wt, ["id"], salt="t")
    got = [(r.id, r.copy_id) for r in out.collect()]
    # grp a (weight 3.0): every row exactly 3 copies, ids 0..2
    a_counts = {}
    for i, c in got:
        if i % 2 == 0:
            a_counts.setdefault(i, []).append(c)
    assert all(sorted(v) == [0, 1, 2] for v in a_counts.values())
    assert len(a_counts) == 100
    # grp b (weight 0.5): kept rows have exactly one copy with id 0;
    # keep-rate is hash-decided, loosely around half
    b_rows = [(i, c) for i, c in got if i % 2 == 1]
    assert all(c == 0 for _, c in b_rows)
    assert 25 <= len(b_rows) <= 75
    # partitioning invariance: identical multiset at a different layout
    out2 = mixture_resample(df.repartition(7, "grp"), wt, ["id"], salt="t")
    assert sorted(got) == sorted((r.id, r.copy_id) for r in out2.collect())
    # a different salt draws a different fractional subset (universes are
    # independent) but the same integer-weight copies
    out3 = mixture_resample(df, wt, ["id"], salt="u")
    b3 = {i for i, _ in ((r.id, r.copy_id) for r in out3.collect()) if i % 2 == 1}
    assert b3 != {i for i, _ in b_rows}


def test_text_ratios_survive_degenerate_docs(spark):
    """Spark 4 runs ANSI mode by default: empty and single-token documents
    must yield NULL ratios (matching DuckDB's NULL-on-zero-division), not
    a DIVIDE_BY_ZERO or negative-slice crash mid-job."""
    import pyspark.sql.functions as F

    from irio_mapreduce_spark.llm.text import (
        max_bigram_share,
        max_token_share,
        quality_features,
        type_token_ratio,
    )

    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    df = local_df(spark, [(1, "solo"), (2, ""), (3, "   ")], ["id", "text"])
    rows = {
        r.id: r
        for r in df.select(
            "id",
            max_token_share(F.col("text")).alias("ts"),
            max_bigram_share(F.col("text")).alias("bs"),
            type_token_ratio(F.col("text")).alias("ttr"),
        ).collect()
    }
    assert rows[1].ts == 1.0 and rows[1].bs is None  # no bigrams -> NULL
    assert rows[2].ts is None and rows[2].bs is None and rows[2].ttr is None
    assert rows[3].ts is None and rows[3].bs is None
    q = {r.id: r for r in quality_features(df).collect()}
    assert q[2].ttr is None and q[2].mean_word_len is None


def test_cosine_zero_vector_yields_null_not_error(spark):
    """ANSI-mode hazard: a zero embedding must produce NULL cosine /
    all-NULL unit vector (undefined direction), never DIVIDE_BY_ZERO."""
    import pyspark.sql.functions as F

    from irio_mapreduce_spark.llm.similarity import cosine, unit_vector

    df = local_df(spark, 
        [(1, [0.0, 0.0]), (2, [3.0, 4.0])], ["id", "v"]
    )
    rows = {
        r.id: r
        for r in df.select(
            "id",
            cosine(F.col("v"), F.array(F.lit(1.0), F.lit(0.0))).alias("c"),
            unit_vector(F.col("v")).alias("u"),
        ).collect()
    }
    assert rows[1].c is None and rows[1].u == [None, None]
    assert abs(rows[2].c - 0.6) < 1e-12 and abs(rows[2].u[1] - 0.8) < 1e-12


def test_weighted_priority_sample_excludes_degenerate_weights(spark):
    """Zero/NULL/negative weights are unsampleable: without the guard,
    try_divide's NULL priority sorts FIRST (Spark ascending = NULLS
    FIRST) and a negative weight's negative priority beats every valid
    row — degenerate rows would deterministically steal top-k slots."""
    from irio_mapreduce_spark.llm.sampling import weighted_priority_sample

    rows = [(1, 10.0), (2, 0.0), (3, None), (4, -5.0), (5, 1e6), (6, 2e6), (7, 3.0)]
    df = local_df(spark, rows, "id long, w double")
    picked = weighted_priority_sample(df, ["id"], "w", k=3, id_col="id")
    got = {r.id for r in picked.collect()}
    assert len(got) == 3
    assert got.isdisjoint({2, 3, 4}), got  # degenerate rows never selected
    # determinism across partitionings
    got2 = {
        r.id
        for r in weighted_priority_sample(
            df.repartition(5), ["id"], "w", k=3, id_col="id"
        ).collect()
    }
    assert got == got2


def test_pq_recall_vs_bruteforce(spark):
    """PQ-ADC (16 subspaces x 32 centroids, top-100 shortlist, exact
    re-rank) must recover most of the exact top-5 — the compressed-domain
    scan plus refine step, so recall well above any bucket-sampling
    baseline."""
    from irio_mapreduce_spark.llm.similarity import pq_topk

    emb = read_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    approx = pq_topk(
        emb, "embedding", "vec_id", queries, k=5, m=16, ksub=32, shortlist=20, seed=42
    ).collect()
    got = {(r.query_id, r.vec_id) for r in approx}

    hits, total = 0, 0
    for q in queries.collect():
        exact = cosine_topk(
            emb.filter(F.col("vec_id") != q.vec_id),
            "embedding",
            "vec_id",
            [float(x) for x in q.embedding],
            k=5,
        ).collect()
        for r in exact:
            total += 1
            hits += (q.vec_id, r.vec_id) in got
    recall = hits / total
    assert recall >= 0.6, f"recall {recall}"


def test_ann_exact_degenerate_configs_equal_bruteforce(spark):
    """Configurations whose candidate step passes every pair — IVF
    probing all of its cells, PQ with a shortlist covering the corpus —
    leave the rows to the shared refine kernel alone. Each query must get
    exactly the brute-force ``cosine_topk`` rows ``(vec_id, cosine)``
    with itself excluded: this pins the kernel's cosine rounding, its
    ``vec_id`` tie-break, its self-pair drop and IVF's ``rn`` order,
    which the recall tests only bound. Every non-query vector is also
    stored a second time under a larger id, so each neighbour ties with
    its copy and the tie-break decides half of every top-k."""
    from irio_mapreduce_spark.llm.similarity import pq_topk

    src = read_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    emb = src.unionByName(
        src.filter(F.col("vec_id") >= 5).withColumn("vec_id", F.col("vec_id") + 10**6)
    )
    queries = src.filter(F.col("vec_id") < 5)
    k, n = 5, emb.count()
    exact = {
        q.vec_id: [
            (r.vec_id, r.cosine)
            for r in cosine_topk(
                emb.filter(F.col("vec_id") != q.vec_id),
                "embedding",
                "vec_id",
                [float(x) for x in q.embedding],
                k=k,
            ).collect()
        ]
        for q in queries.collect()
    }
    ivf = ivf_topk(
        emb, "embedding", "vec_id", queries, k=k, n_cells=16, n_probe=16, seed=42
    ).collect()
    pq = pq_topk(
        emb, "embedding", "vec_id", queries, k=k, m=8, ksub=16,
        shortlist=-(-n // k), seed=42,
    ).collect()
    for name, rows in (("ivf", ivf), ("pq", pq)):
        got = {}
        for r in sorted(rows, key=lambda r: (r.query_id, -r.cosine, r.vec_id)):
            got.setdefault(r.query_id, []).append((r.vec_id, r.cosine))
        assert got == exact, name
    for qid in exact:
        ranks = sorted((r.rn, r.vec_id) for r in ivf if r.query_id == qid)
        assert ranks == list(enumerate((v for v, _ in exact[qid]), 1)), qid


def test_connected_components_random_graphs_vs_union_find(spark):
    """Property check: on seeded Erdős–Rényi-ish random graphs (including a
    duplicate-edge / self-loop / reversed-edge mix), the kernel's labeling
    equals a plain Python union-find."""
    import random

    for seed, n, m in [(1, 30, 25), (2, 40, 60), (3, 25, 12)]:
        rng = random.Random(seed)
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(m)
        ]  # self-loops and dup edges allowed by construction
        edges += [(b, a) for a, b in edges[: m // 3]]  # reversed duplicates
        node_ids = list(range(n))
        assert _components(spark, edges, node_ids) == _union_find_components(
            edges, node_ids
        ), f"seed={seed}"


def test_bloom_prefilter_matches_plain_antijoin_and_prunes(spark):
    """The bloom-prefiltered membership dedup must be bit-identical to the
    plain anti-join (false positives re-checked; no false negatives), and
    the sketch must actually prune: the 'maybe' slice that reaches the
    anti-join stays close to the true-duplicate count."""
    from irio_mapreduce_spark.io import read_table
    from irio_mapreduce_spark.llm.dedup import bloom_prefiltered_new
    from tests.conftest import SF_DIR

    docs = read_table(spark, SF_DIR, "documents").select("doc_id", "text")
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0).unionByName(
        docs.filter(F.col("doc_id") % 20 == 0).withColumn(
            "doc_id", F.col("doc_id") + 100000
        )
    )
    fp = F.sha2(F.col("text"), 256)
    got = sorted(
        r.doc_id
        for r in bloom_prefiltered_new(
            corpus, batch, fp, expected_items=100_000
        ).collect()
    )
    want = sorted(
        r.doc_id
        for r in batch.withColumn("_fp", fp)
        .join(corpus.select(fp.alias("_fp")).distinct(), "_fp", "left_anti")
        .collect()
    )
    assert got == want and len(got) > 0
    # Pruning: measure the probe's actual selectivity. At 10 bits/item the
    # fpp is ~1%, so the maybe-slice must be the true dups plus at most a
    # few false positives — far below the full batch size. (A probe
    # regression that marks everything 'maybe' keeps the output correct
    # via the exact recheck but voids the pruning; this catches it.)
    from irio_mapreduce_spark.llm.dedup import bloom_probe

    n_batch = batch.count()
    n_dups = n_batch - len(got)
    assert n_dups > 0  # the planted dups exist
    probed = bloom_probe(
        corpus.select(fp.alias("_fp")),
        batch.select(fp.alias("_fp")),
        num_bits=100_000 * 10,
        num_hashes=7,
    )
    n_maybe = probed.filter(F.col("_maybe")).count()
    assert n_dups <= n_maybe <= n_dups + max(3, n_batch // 10), (
        n_maybe,
        n_dups,
        n_batch,
    )


def test_bloom_prefilter_empty_corpus_passes_everything(spark):
    """Empty corpus => all-zero sketch => every batch row is definitively
    new (the NULL-bloom footgun would instead return an empty result)."""
    from irio_mapreduce_spark.llm.dedup import bloom_prefiltered_new

    batch = local_df(spark, [(1, "a"), (2, "b")], "id long, text string")
    corpus = batch.filter(F.lit(False))
    out = bloom_prefiltered_new(
        corpus, batch, F.sha2(F.col("text"), 256), expected_items=1000
    )
    assert sorted(r.id for r in out.collect()) == [1, 2]


def test_duplicate_substring_spans_planted(spark):
    """Two documents sharing a planted 12-token run (and nothing else) must
    each report exactly one span of 12 duplicated tokens; a third unrelated
    document must not appear."""
    from irio_mapreduce_spark.llm.dedup import duplicate_substring_spans

    shared = " ".join(f"tok{i}" for i in range(12))
    rows = [
        (1, f"alpha beta {shared} gamma delta"),
        (2, f"omicron {shared} zeta eta theta iota kappa"),
        (3, "completely unrelated words only appearing here once each time"),
    ]
    df = local_df(spark, rows, "doc_id long, text string")
    out = {r.doc_id: r for r in duplicate_substring_spans(df, "doc_id", "text").collect()}
    assert set(out) == {1, 2}
    for d in (1, 2):
        assert out[d].n_spans == 1
        assert out[d].dup_tokens == 12


def test_duplicate_substring_spans_merges_overlaps(spark):
    """Two duplicated runs separated by less than a window inside one doc
    merge into a single span covering the union."""
    from irio_mapreduce_spark.llm.dedup import duplicate_substring_spans

    run1 = " ".join(f"a{i}" for i in range(9))
    run2 = " ".join(f"b{i}" for i in range(9))
    rows = [
        (1, f"{run1} mid {run2}"),  # a-span [1,9], gap 'mid' at 10, b-span [11,19]
        (2, f"x1 x2 {run1} y1 y2 y3 y4 y5 y6 y7"),
        (3, f"z1 z2 z3 z4 z5 z6 z7 z8 {run2}"),
    ]
    df = local_df(spark, rows, "doc_id long, text string")
    out = {r.doc_id: r for r in duplicate_substring_spans(df, "doc_id", "text").collect()}
    # doc1: windows at i=1,2 (run1) and i=11,12 (run2): gap 11-2=9 > 8 -> 2 spans
    assert out[1].n_spans == 2
    assert out[1].dup_tokens == 18
    assert out[2].n_spans == 1 and out[2].dup_tokens == 9
    assert out[3].n_spans == 1 and out[3].dup_tokens == 9


def test_unigram_surprisal_ranks_rare_docs_higher(spark):
    """A document of corpus-unique tokens must out-score a document built
    from the corpus's most common tokens, and every score must be >= 1
    per token (N/c >= 1 always)."""
    from irio_mapreduce_spark.llm.text import unigram_surprisal

    rows = [(i, "common words repeated " * 5) for i in range(10)]
    rows.append((99, "xylophone quixotic zephyr brouhaha"))
    df = local_df(spark, rows, "doc_id long, text string")
    out = {r.doc_id: r for r in unigram_surprisal(df, "doc_id", "text").collect()}
    scale = 10**8
    common_mean = out[0].sum_inv_freq_fp / out[0].n_tokens / scale
    rare_mean = out[99].sum_inv_freq_fp / out[99].n_tokens / scale
    assert rare_mean > common_mean
    for r in out.values():
        # N/c >= 1 always; floor division loses < 1 fixed-point unit/term
        assert r.sum_inv_freq_fp / r.n_tokens >= scale - 1


def test_normalize_text_degenerate_inputs(spark):
    """URL-only and empty documents normalize to empty strings; citation
    markers vanish; interior runs of whitespace collapse to single
    spaces."""
    from irio_mapreduce_spark.llm.text import normalize_text

    rows = [
        (1, "https://only.example.com/x?a=1"),
        (2, ""),
        (3, "text  with   gaps [3] and [44] cites"),
        (4, "pre https://a.b/c post"),
    ]
    df = local_df(spark, rows, "id long, text string")
    out = {r.id: r.n for r in df.select("id", normalize_text("text").alias("n")).collect()}
    assert out[1] == ""
    assert out[2] == ""
    assert out[3] == "text with gaps and cites"
    assert out[4] == "pre post"


def test_real_bmp_wav_codecs_roundtrip_and_reject_garbage():
    """The BMP/WAV codecs must invert exactly (including BMP row padding
    on non-multiple-of-4 widths and bottom-up row order) and reject
    non-conforming bytes instead of fabricating features."""
    import pytest

    from irio_mapreduce_spark.llm import multimodal as mm

    for w, h in [(9, 5), (8, 6), (10, 1), (1, 1)]:  # 9,10: padded rows
        d = mm.decode_bmp(mm.synth_bmp(7, w, h))
        assert (d["width"], d["height"]) == (w, h)
        for c, key in [(0, "sum_b"), (1, "sum_g"), (2, "sum_r")]:
            assert d[key] == sum(
                mm._bmp_pixel(7, x, y, c) for x in range(w) for y in range(h)
            )
    dw = mm.decode_wav(mm.synth_wav(9, 8000, 33))
    assert dw["n_samples"] == 33 and dw["sample_rate"] == 8000
    with pytest.raises(ValueError):
        mm.decode_bmp(b"JUNKJUNKJUNKJUNKJUNK")
    with pytest.raises(ValueError):
        mm.decode_wav(b"RIFFxxxxNOPE")


def test_segment_wav_tail_and_short_inputs():
    """Segment slicing: the final segment carries the short tail exactly;
    an input shorter than one segment yields a single segment; re-encoded
    segments decode to the original sample slices."""
    from irio_mapreduce_spark.llm import multimodal as mm

    wav = mm.synth_wav(5, 5000, 250)  # seg_len at 20ms/5kHz = 100
    segs = mm.segment_wav(wav, 20, 4)
    assert [i for i, _ in segs] == [0, 1, 2]
    sizes = [mm.decode_wav(b)["n_samples"] for _, b in segs]
    assert sizes == [100, 100, 50]
    all_samples = [mm._wav_sample(5, i) for i in range(250)]
    got_sum = sum(mm.decode_wav(b)["sum_abs"] for _, b in segs)
    assert got_sum == sum(abs(s) for s in all_samples)

    tiny = mm.synth_wav(6, 5000, 7)
    segs2 = mm.segment_wav(tiny, 20, 4)
    assert len(segs2) == 1
    assert mm.decode_wav(segs2[0][1])["n_samples"] == 7


def test_incremental_dedup_persisted_index(spark, tmp_path):
    """The persisted-index path is byte-identical to the per-run-rebuild
    path, the probe plan scans the pre-built index tables (corpus
    tokenization AND band hashing ran at build time), and a torn build
    (missing _SUCCESS on a sub-table) is refused, never probed."""
    import os

    import pytest

    from irio_mapreduce_spark.llm.dedup import (
        build_incremental_index,
        incremental_dedup,
        incremental_dedup_persisted,
        incremental_index_is_committed,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    corpus = local_df(spark, 
        [(1, base),
         (2, base + " lambda mu nu"),
         (3, " ".join(f"c{i}" for i in range(12)))],
        "doc_id long, text string",
    )
    batch = local_df(spark, 
        [(10, base),
         (11, base + " lambda mu xi"),
         (12, " ".join(f"b{i}" for i in range(12)))],
        "doc_id long, text string",
    )
    idx_dir = str(tmp_path / "idx")
    build_incremental_index(corpus, "doc_id", "text", idx_dir)
    assert incremental_index_is_committed(idx_dir)
    out = incremental_dedup_persisted(idx_dir, batch, "doc_id", "text")
    want = {
        r.doc_id
        for r in incremental_dedup(corpus, batch, "doc_id", "text").collect()
    }
    assert {r.doc_id for r in out.collect()} == want == {12}

    # plan evidence: all three index sub-tables appear as parquet scans —
    # tokenizer and band hashing ran at BUILD time (the probe has no
    # access to the corpus text at all, so recompute is structurally
    # impossible; this pins the three-artifact shape).
    plan = out._jdf.queryExecution().executedPlan().toString()
    # (paths are abbreviated in the plan string, so pin each sub-table by
    # its parquet scan's ReadSchema instead; the fps scan is consumed
    # inside the survivors localCheckpoint barrier and cannot appear in
    # the final plan — its artifact shape is checked directly)
    for schema in (
        "ReadSchema: struct<_cid:bigint,_csh:array<string>>",  # docs
        "ReadSchema: struct<_cid:bigint,_bucket:bigint>",  # bands
    ):
        assert schema in plan, f"index sub-table scan missing: {schema}"
    assert spark.read.parquet(os.path.join(idx_dir, "fps")).columns == ["_fp"]

    # non-default LSH parameters round-trip through the _COMMITTED
    # manifest: the probe must band-hash the batch identically or the
    # candidate join would silently match nothing
    idx2 = str(tmp_path / "idx2")
    build_incremental_index(
        corpus, "doc_id", "text", idx2, num_hashes=64, bands=16
    )
    got2 = {
        r.doc_id
        for r in incremental_dedup_persisted(
            idx2, batch, "doc_id", "text"
        ).collect()
    }
    assert got2 == {12}  # near-dup 11 still caught under 64/16 banding

    # a torn build is refused
    os.remove(os.path.join(idx_dir, "bands", "_SUCCESS"))
    assert not incremental_index_is_committed(idx_dir)
    with pytest.raises(ValueError, match="torn"):
        incremental_dedup_persisted(idx_dir, batch, "doc_id", "text")

    # a torn REBUILD is refused too: every per-table _SUCCESS present,
    # but the build was interrupted before re-creating _COMMITTED
    os.remove(os.path.join(idx2, "_COMMITTED"))
    assert not incremental_index_is_committed(idx2)
    with pytest.raises(ValueError, match="torn"):
        incremental_dedup_persisted(idx2, batch, "doc_id", "text")


def test_ivf_persisted_index_matches_in_process(spark, tmp_path):
    """ivf_topk_persisted against a build_ivf_index directory returns
    byte-identical results to the in-process ivf_topk (same quantizer
    seed → same cells → same candidates → same exact re-rank); a torn
    build is refused; a centroid/manifest mismatch is refused."""
    import os

    import pytest

    from irio_mapreduce_spark.io import read_table
    from irio_mapreduce_spark.llm.similarity import (
        build_ivf_index,
        ivf_topk,
        ivf_topk_persisted,
    )
    from tests.conftest import SF_DIR

    emb = read_table(spark, SF_DIR, "embeddings")
    queries = emb.filter("vec_id < 5")
    idx_dir = str(tmp_path / "ivf")
    build_ivf_index(emb, "embedding", "vec_id", idx_dir, n_cells=8, seed=7)
    got = {
        (r.query_id, r.vec_id, r.cosine, r.rn)
        for r in ivf_topk_persisted(
            idx_dir, queries, "embedding", "vec_id", k=5, n_probe=4
        ).collect()
    }
    want = {
        (r.query_id, r.vec_id, r.cosine, r.rn)
        for r in ivf_topk(
            emb, "embedding", "vec_id", queries, k=5, n_cells=8, n_probe=4, seed=7
        ).collect()
    }
    assert got == want and got

    # torn build (manifest removed, e.g. crash mid-rebuild) is refused
    os.rename(
        os.path.join(idx_dir, "_COMMITTED"),
        os.path.join(idx_dir, "_COMMITTED.bak"),
    )
    with pytest.raises(ValueError, match="torn"):
        ivf_topk_persisted(idx_dir, queries, "embedding", "vec_id")
    os.rename(
        os.path.join(idx_dir, "_COMMITTED.bak"),
        os.path.join(idx_dir, "_COMMITTED"),
    )
    # manifest/centroid-count mismatch is refused
    import json

    with open(os.path.join(idx_dir, "_COMMITTED"), "w") as fh:
        json.dump({"n_cells": 99, "seed": 7}, fh)
    with pytest.raises(ValueError, match="centroids on disk"):
        ivf_topk_persisted(idx_dir, queries, "embedding", "vec_id")


def test_semdedup_retention_rule(spark):
    """SemDeDup keeps the LOWEST-centroid-similarity member of a
    near-dup pair and never drops across cluster boundaries. Two anchors
    on orthogonal axes; a near-dup pair straddling neither: b1 sits
    closer to anchor 0's axis than b2, so b2 (more typical) drops. The
    far-cluster vector c is untouched even though it is a scale copy of
    a near-dup member (different cluster => never a candidate)."""
    from irio_mapreduce_spark.llm.similarity import semdedup

    rows = [
        (10, [1.0, 0.05, 0.0]),   # b1: cos-to-anchor0 lower than b2's? see below
        (11, [1.0, 0.049, 0.0]),  # b2: near-dup of b1 (cos ~ 1)
        (20, [0.0, 0.0, 7.0]),    # c: anchor-1 cluster, no neighbor there
    ]
    corpus = local_df(spark, rows, "vec_id: long, v: array<double>")
    anchors = local_df(spark, 
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 0.0, 1.0])],
        "cid: long, av: array<double>",
    )
    out = semdedup(corpus, "v", "vec_id", anchors, threshold=0.99).collect()
    by_id = {r.vec_id: r for r in out}
    assert by_id[10].cluster_id == 0 and by_id[11].cluster_id == 0
    assert by_id[20].cluster_id == 1 and not by_id[20].dropped
    # b2 is MORE similar to the centroid (smaller off-axis component)
    assert by_id[11].cent_sim > by_id[10].cent_sim
    assert by_id[11].dropped and not by_id[10].dropped


def test_semdedup_equal_cent_sim_ties_on_id(spark):
    """Exact scale copies have bit-identical centroid cosines; the id
    tie-break keeps the smaller id — deterministic, both engines agree."""
    from irio_mapreduce_spark.llm.similarity import semdedup

    corpus = local_df(spark, 
        [(1, [3.0, 4.0]), (2, [1.5, 2.0])],  # 2 = 0.5 * 1
        "vec_id: long, v: array<double>",
    )
    anchors = local_df(spark, [(0, [1.0, 0.0])], "cid: long, av: array<double>")
    out = {r.vec_id: r for r in semdedup(corpus, "v", "vec_id", anchors).collect()}
    assert out[1].cent_sim == out[2].cent_sim
    assert not out[1].dropped and out[2].dropped


def test_kmeans_fixed_point_vs_python_reference(spark):
    """Fixed-point Lloyd's equals a pure-Python replay of the identical
    integer arithmetic (scale → assign-argmin → integer re-center, 2
    rounds) on a seeded random corpus, and the assignment is invariant
    under repartitioning. Also: an empty cluster carries its centroid
    forward instead of crashing."""
    import math
    import random

    from irio_mapreduce_spark.llm.clustering import (
        KMEANS_SCALE,
        kmeans_fixed_point,
    )

    rng = random.Random(3)
    dims, n, k, iters = 6, 80, 4, 2
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(dims)]) for i in range(n)
    ]
    df = local_df(spark, rows, "vid long, v array<float>")

    # Python replay of the exact contract. Match Spark float32 storage:
    # the scaled value is floor(double(float32(x)) * SCALE).
    import struct

    def f32(x):
        return struct.unpack("f", struct.pack("f", x))[0]

    sv = {i: [math.floor(f32(x) * KMEANS_SCALE) for x in v] for i, v in rows}
    cents = [list(sv[i]) for i in range(k)]

    def trunc_div(a, b):
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q

    assign = {}
    for _ in range(iters):
        assign = {}
        for i, s in sv.items():
            dists = [
                sum((a - b) * (a - b) for a, b in zip(s, c)) for c in cents
            ]
            assign[i] = dists.index(min(dists))
        for c in range(k):
            members = [sv[i] for i in assign if assign[i] == c]
            if members:
                cents[c] = [
                    trunc_div(sum(col), len(members)) for col in zip(*members)
                ]

    got = {
        r.id: r.cluster
        for r in kmeans_fixed_point(df, "v", "vid", k=k, iterations=iters).collect()
    }
    assert got == assign

    again = {
        r.id: r.cluster
        for r in kmeans_fixed_point(
            df.repartition(7), "v", "vid", k=k, iterations=iters
        ).collect()
    }
    assert again == assign

    # Empty-cluster carry-forward: two far groups, k=3 seeded from three
    # near-identical points in group A — at least one seed captures nothing
    # after round 1 once re-centering pulls a centroid into group B.
    far = [(0, [0.0, 0.0]), (1, [0.01, 0.0]), (2, [0.02, 0.0])] + [
        (10 + i, [100.0, 100.0 + i]) for i in range(5)
    ]
    fdf = local_df(spark, far, "vid long, v array<float>")
    out = kmeans_fixed_point(fdf, "v", "vid", k=3, iterations=3).collect()
    assert len(out) == len(far)  # every row assigned, no crash


def test_knn_classify_vs_python_reference(spark):
    """Exact k-NN majority vote equals a Python replay (integer distances,
    id tie-break on neighbors, (votes desc, label asc) tie-break on the
    vote) on a seeded random corpus."""
    import math
    import random
    import struct

    from irio_mapreduce_spark.llm.clustering import KMEANS_SCALE, knn_classify

    rng = random.Random(5)
    dims, n_corpus, n_q, k = 4, 60, 8, 5
    corpus = [
        (i, [rng.uniform(-1, 1) for _ in range(dims)], rng.randrange(3))
        for i in range(n_corpus)
    ]
    queries = [
        (100 + i, [rng.uniform(-1, 1) for _ in range(dims)], 0)
        for i in range(n_q)
    ]
    cdf = local_df(spark, corpus, "vid long, v array<float>, lab int")
    qdf = local_df(spark, queries, "vid long, v array<float>, lab int")

    def f32(x):
        return struct.unpack("f", struct.pack("f", x))[0]

    def scale(v):
        return [math.floor(f32(x) * KMEANS_SCALE) for x in v]

    expect = {}
    for qid, qv, _ in queries:
        qs = scale(qv)
        scored = sorted(
            (
                sum((a - b) * (a - b) for a, b in zip(scale(cv), qs)),
                cid,
                lab,
            )
            for cid, cv, lab in corpus
        )
        votes: dict[int, int] = {}
        for _, _, lab in scored[:k]:
            votes[lab] = votes.get(lab, 0) + 1
        best = sorted(votes.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        expect[qid] = best
    got = {
        r.query_id: (r.predicted_label, r.votes)
        for r in knn_classify(cdf, qdf, "v", "vid", "lab", k=k).collect()
    }
    assert got == {q: (l, v) for q, (l, v) in expect.items()}


def test_pmi_collocations_reference_and_degenerate(spark):
    """Fixed-point PMI lift equals a Python replay of the identical
    integer arithmetic on a tiny corpus with a planted collocation, and
    empty/single-token docs contribute no bigrams without crashing
    (ANSI slice guard)."""
    from irio_mapreduce_spark.llm.text import pmi_collocations

    docs = [
        (0, "alpha beta alpha beta alpha beta"),
        (1, "gamma alpha beta gamma gamma"),
        (2, "delta delta delta delta"),
        (3, ""),
        (4, "solo"),
    ]
    df = local_df(spark, docs, "doc_id long, text string")
    out = {
        r.bigram: (r.c_xy, r.c_x, r.c_y, r.lift_fp)
        for r in pmi_collocations(df, "text", min_count=2, top_n=10).collect()
    }

    toks = [d[1].lower().split() for d in docs]
    uni: dict[str, int] = {}
    bi: dict[tuple, int] = {}
    for ts in toks:
        for w in ts:
            uni[w] = uni.get(w, 0) + 1
        for a, b in zip(ts, ts[1:]):
            bi[(a, b)] = bi.get((a, b), 0) + 1
    expect = {}
    for (a, b), cxy in bi.items():
        if cxy < 2:
            continue
        t1 = (cxy * 10**6) // uni[a]
        expect[f"{a} {b}"] = (cxy, uni[a], uni[b], (t1 * 10**6) // uni[b])
    assert out == expect
    # the planted repeated phrase ranks top
    top = max(out.items(), key=lambda kv: kv[1][3])
    assert top[0] in ("alpha beta", "delta delta")


def test_fuzzy_levenshtein_planted_recall(spark):
    """Every qualifying document's planted typo variant must be found as
    a pair — recall 1 through the suffix-block + edit-distance pipeline
    (a mid-string blocking key silently drops recall to zero after the
    insertion shift, the bug the entry's first cut had). Natural-corpus
    extra pairs are permitted; missing planted pairs are not."""
    from irio_mapreduce_spark import queries as catalog
    from irio_mapreduce_spark.queries.dedup_q import _FUZZY_PLANT_OFFSET

    sf = "/root/testdata/sf0.01"
    out = catalog.all_queries()["dedup_fuzzy_levenshtein"](spark, sf)
    found = {
        (r.id1, r.id2): r.dist
        for r in out.collect()
        if r.id2 - r.id1 == _FUZZY_PLANT_OFFSET
    }
    import duckdb

    n_expected = duckdb.sql(
        f"SELECT count(*) FROM '{sf}/documents.parquet' WHERE len(text) >= 40"
    ).fetchone()[0]
    assert len(found) == n_expected
    assert all(1 <= d <= 5 for d in found.values())


def test_paragraph_dedup_keep_first_and_rebuild(spark):
    from irio_mapreduce_spark.llm.dedup import paragraph_dedup

    # doc 1: chunks A B; doc 2 repeats chunk A (dropped) plus its own C;
    # doc 3 is chunk B verbatim only (fully duplicated -> rebuilds empty).
    a = "a b c d e f g h i j"
    b = "k l m n o p q r s t"
    c = "u v w x y z aa bb cc dd"
    df = local_df(spark, 
        [(1, f"{a} {b}"), (2, f"{a} {c}"), (3, b)], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r for r in paragraph_dedup(df).collect()}
    assert (out[1]["n_chunks"], out[1]["n_kept"]) == (2, 2)
    assert out[1]["rebuilt_text"] == f"{a} {b}"
    # doc 2 loses the repeated chunk A but keeps C, preserving order
    assert (out[2]["n_chunks"], out[2]["n_kept"]) == (2, 1)
    assert out[2]["rebuilt_text"] == c
    # doc 3's only chunk already belongs to doc 1 (lower doc_id wins)
    assert (out[3]["n_chunks"], out[3]["n_kept"]) == (1, 0)
    assert out[3]["rebuilt_text"] == ""


def test_paragraph_dedup_degenerate_docs(spark):
    from irio_mapreduce_spark.llm.dedup import paragraph_dedup

    df = local_df(spark, 
        [(1, ""), (2, "   "), (3, "solo"), (4, "a b c"), (5, None)],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in paragraph_dedup(df).collect()}
    assert (out[1]["n_chunks"], out[1]["n_kept"], out[1]["rebuilt_text"]) == (0, 0, "")
    assert (out[2]["n_chunks"], out[2]["n_kept"], out[2]["rebuilt_text"]) == (0, 0, "")
    # NULL text behaves exactly like empty text — n_chunks 0, never NULL
    assert (out[5]["n_chunks"], out[5]["n_kept"], out[5]["rebuilt_text"]) == (0, 0, "")
    # short docs form one partial chunk each, both unique -> kept whole
    assert out[3]["rebuilt_text"] == "solo"
    assert out[4]["rebuilt_text"] == "a b c"


def test_paragraph_dedup_partitioning_invariant(spark):
    from irio_mapreduce_spark.llm.dedup import paragraph_dedup

    docs = read_table(spark, SF_DIR, "documents").select("doc_id", "text").limit(60)
    base = sorted(
        paragraph_dedup(docs).collect(), key=lambda r: r["doc_id"]
    )
    shuffled = sorted(
        paragraph_dedup(docs.repartition(7)).collect(), key=lambda r: r["doc_id"]
    )
    assert [tuple(r) for r in base] == [tuple(r) for r in shuffled]


def test_linear_score_classify_matches_numpy(spark):
    """The catalog entry's fixed-point centroid rule must agree with a
    plain numpy replication of the same integer arithmetic."""
    import numpy as np

    from irio_mapreduce_spark.queries.ml_q import ml_linear_score_classify

    out = {
        (r["true_side"], r["pred_side"]): r["n"]
        for r in ml_linear_score_classify(spark, SF_DIR).collect()
    }

    emb = read_table(spark, SF_DIR, "embeddings").select(
        "vec_id", "label", "embedding"
    ).collect()
    s = np.array(
        [[int(np.floor(float(x) * 10**6)) for x in r["embedding"]] for r in emb],
        dtype=object,
    )
    pos = np.array([r["label"] >= 5 for r in emb])

    def trunc_div(a, b):
        q = abs(a) // abs(b)
        return -q if (a < 0) != (b < 0) else q

    mu1 = [trunc_div(int(c), int(pos.sum())) for c in s[pos].sum(axis=0)]
    mu0 = [trunc_div(int(c), int((~pos).sum())) for c in s[~pos].sum(axis=0)]
    w = [a - b for a, b in zip(mu1, mu0)]
    t2 = sum(wi * m for wi, m in zip(w, mu1)) + sum(wi * m for wi, m in zip(w, mu0))
    scores = [sum(wi * int(si) for wi, si in zip(w, row)) for row in s]
    expect = {}
    for p, sc in zip(pos, scores):
        key = (int(p), int(2 * sc >= t2))
        expect[key] = expect.get(key, 0) + 1
    assert out == expect


def test_png_codec_roundtrip_pixel_exact():
    """decode(encode(img)) reproduces every pixel byte, across images tall
    enough to exercise all five row filters and narrow enough (width 1) to
    hit the bpp boundary of Sub/Average/Paeth."""
    from irio_mapreduce_spark.llm.multimodal import (
        decode_png_pixels,
        encode_png,
    )

    for w, h in [(1, 6), (2, 5), (7, 9), (16, 5)]:
        def px(x, y, c):
            return (x * 89 + y * 57 + c * 199 + w + h) % 256

        width, height, rows = decode_png_pixels(encode_png(w, h, px))
        assert (width, height) == (w, h)
        for y, row in enumerate(rows):
            for x in range(w):
                for c in range(3):
                    assert row[3 * x + c] == px(x, y, c)


def test_png_decoder_rejects_corruption():
    import pytest as _pytest

    from irio_mapreduce_spark.llm.multimodal import decode_png, synth_png

    good = synth_png(11, 6, 7)
    with _pytest.raises(ValueError, match="not a PNG"):
        decode_png(b"BM" + good[2:])
    with _pytest.raises(ValueError, match="truncated"):
        decode_png(good[:-6])
    # flip one IDAT byte -> the chunk CRC must catch it
    bad = bytearray(good)
    bad[len(bad) // 2] ^= 0xFF
    with _pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(bad))
    # unsupported variant: rewrite IHDR color type to grayscale (and its CRC)
    import struct
    import zlib

    ihdr_data = bytearray(good[16:29])
    ihdr_data[9] = 0  # color type
    patched = (
        good[:16]
        + bytes(ihdr_data)
        + struct.pack(">I", zlib.crc32(b"IHDR" + bytes(ihdr_data)) & 0xFFFFFFFF)
        + good[33:]
    )
    with _pytest.raises(ValueError, match="unsupported PNG variant"):
        decode_png(patched)


def test_png_paeth_predictor_spec():
    """Paeth = the neighbor nearest to a+b-c, ties broken left, up,
    up-left (PNG spec §9.4) — compared against a direct restatement."""
    from irio_mapreduce_spark.llm.multimodal import _paeth

    for a in range(0, 256, 17):
        for b in range(0, 256, 23):
            for c in range(0, 256, 29):
                p = a + b - c
                best = min(
                    (abs(p - a), 0, a), (abs(p - b), 1, b), (abs(p - c), 2, c)
                )
                assert _paeth(a, b, c) == best[2]


def test_png_real_media_dispatch(spark):
    """A mixed media table (PNG rows alongside BMP/WAV) decodes each
    payload off its own magic bytes."""
    from irio_mapreduce_spark.llm.multimodal import (
        decode_real_media_features,
        synthesize_media,
    )

    ids = spark.range(0, 6).select(F.col("id").alias("media_id"))
    mixed = synthesize_media(ids, "real").unionByName(
        synthesize_media(
            spark.range(100, 103).select(F.col("id").alias("media_id")), "png"
        )
    )
    out = decode_real_media_features(mixed).collect()
    kinds = {r["media_id"]: r["kind"] for r in out}
    assert all(kinds[i] == "image" for i in (0, 2, 4, 100, 101, 102))
    assert all(kinds[i] == "audio" for i in (1, 3, 5))
    png_rows = [r for r in out if r["media_id"] >= 100]
    assert all(
        r["width"] == 5 + r["media_id"] % 8 and r["height"] == 5 + r["media_id"] % 6
        for r in png_rows
    )


def test_png_resize_matches_source_mapping():
    from irio_mapreduce_spark.llm.multimodal import (
        _png_pixel,
        decode_png_pixels,
        resize_png,
        synth_png,
    )

    w0, h0, w1, h1 = 9, 7, 5, 11
    width, height, rows = decode_png_pixels(resize_png(synth_png(21, w0, h0), w1, h1))
    assert (width, height) == (w1, h1)
    for y in range(h1):
        for x in range(w1):
            for c in range(3):
                assert rows[y][3 * x + c] == _png_pixel(
                    21, (x * w0) // w1, (y * h0) // h1, c
                )


def test_gif_lzw_roundtrip_and_kwkwk():
    """LZW encode->decode is the identity on arbitrary index streams,
    including the KwKwK pattern (a code referencing the entry being
    defined) and streams long enough to force code-width growth and a
    mid-stream CLEAR at the 12-bit cap."""
    from irio_mapreduce_spark.llm.multimodal import (
        _gif_lzw_decode,
        _gif_lzw_encode,
    )

    cases = [
        [0],
        [0, 0, 0, 0],  # classic KwKwK trigger on tiny alphabets
        [1, 1, 1, 2, 2, 2, 1, 1, 1],
        [(i * 7) % 256 for i in range(5000)],  # width growth
        [i % 2 for i in range(9000)],  # repetitive -> deep table, CLEAR
    ]
    for idx in cases:
        enc = _gif_lzw_encode(idx, 8)
        assert _gif_lzw_decode(enc, 8, len(idx)) == bytes(idx)


def test_gif_lzw_roundtrip_all_min_code_sizes():
    """Width growth must track the DECODER's table, not the encoder's —
    the off-by-one desynchronizes exactly when the final flush lands on a
    byte-aligned 2^width boundary (review-found: 9 hard failures at min
    code sizes 2-4, including the pinned case below). Grid: every min
    code size 2..8 against deterministic pseudo-random streams."""
    from irio_mapreduce_spark.llm.multimodal import (
        _gif_lzw_decode,
        _gif_lzw_encode,
    )

    # the exact review repro
    idx = [3, 0, 1, 3, 2, 2, 1, 1, 0, 3, 3]
    assert _gif_lzw_decode(_gif_lzw_encode(idx, 2), 2, len(idx)) == bytes(idx)

    for mcs in range(2, 9):
        alpha = 1 << mcs
        for seed in range(6):
            n = 37 + seed * 211
            stream = [((seed + 1) * 2654435761 * (i + 3) >> 7) % alpha for i in range(n)]
            enc = _gif_lzw_encode(stream, mcs)
            assert _gif_lzw_decode(enc, mcs, n) == bytes(stream), (mcs, seed)
        # adversarial repetitive stream (deep table, many boundary hits)
        rep = [i % min(3, alpha) for i in range(4000)]
        assert _gif_lzw_decode(_gif_lzw_encode(rep, mcs), mcs, len(rep)) == bytes(rep)


def test_gif_decoder_rejects_corruption():
    import pytest as _pytest

    from irio_mapreduce_spark.llm.multimodal import decode_gif, synth_gif

    good = synth_gif(5, 8, 6)
    with _pytest.raises(ValueError, match="not a GIF"):
        decode_gif(b"BM" + good[2:])
    with _pytest.raises(ValueError, match="truncated"):
        decode_gif(good[:30])
    # declared dims inconsistent with the pixel stream must be rejected:
    # patch the IMAGE DESCRIPTOR width (13-byte header+LSD, 768-byte GCT,
    # 0x2C separator + 2x2 position, then the 2-byte width)
    bad = bytearray(good)
    import struct

    struct.pack_into("<H", bad, 13 + 768 + 5, 9)
    with _pytest.raises(ValueError):
        decode_gif(bytes(bad))
    # a data code arriving before any CLEAR initializes the table is
    # corrupt, and must reject with ValueError (not IndexError)
    from irio_mapreduce_spark.llm.multimodal import _gif_lzw_decode

    with _pytest.raises(ValueError, match="corrupt GIF LZW code"):
        _gif_lzw_decode(bytes([0x00, 0x00]), 8, 4)


def test_gif_real_media_dispatch(spark):
    from irio_mapreduce_spark.llm.multimodal import (
        decode_real_media_features,
        synthesize_media,
    )

    ids = spark.range(200, 204).select(F.col("id").alias("media_id"))
    out = {r["media_id"]: r for r in decode_real_media_features(
        synthesize_media(ids, "gif")
    ).collect()}
    for mid, r in out.items():
        assert r["kind"] == "image"
        assert r["width"] == 6 + mid % 7 and r["height"] == 4 + mid % 5


def test_resize_real_images_handles_png(spark):
    """The real-resize stage dispatches PNG payloads off their magic bytes
    alongside BMP; decode of the resized PNG proves the full
    decode->resample->re-encode path ran."""
    from irio_mapreduce_spark.llm.multimodal import (
        _png_pixel,
        decode_real_media_features,
        resize_real_images,
        synthesize_media,
    )

    ids = spark.range(300, 303).select(F.col("id").alias("media_id"))
    resized = resize_real_images(synthesize_media(ids, "png"), 4, 3)
    out = {r["media_id"]: r for r in decode_real_media_features(resized).collect()}
    for mid, r in out.items():
        assert (r["width"], r["height"]) == (4, 3)
        w0, h0 = 5 + mid % 8, 5 + mid % 6
        for c, col in enumerate(("sum_r", "sum_g", "sum_b")):
            exp = sum(
                _png_pixel(mid, (x * w0) // 4, (y * h0) // 3, c)
                for x in range(4)
                for y in range(3)
            )
            assert r[col] == exp, (mid, col)


def test_tiff_codec_roundtrip_and_endianness():
    """encode->decode is exact for both byte orders, single- and
    multi-strip layouts, and widths/heights of 1 (strip-boundary edges)."""
    from irio_mapreduce_spark.llm.multimodal import decode_tiff, encode_tiff

    for bo in ("<", ">"):
        for w, h, rps in [(1, 7, 2), (9, 1, 2), (6, 6, 6), (5, 9, 1)]:
            def px(x, y, c):
                return (x * 31 + y * 7 + c * 111 + w) % 256

            d = decode_tiff(encode_tiff(w, h, px, byte_order=bo, rows_per_strip=rps))
            exp = [
                sum(px(x, y, c) for x in range(w) for y in range(h))
                for c in range(3)
            ]
            assert (d["width"], d["height"]) == (w, h), (bo, w, h, rps)
            assert (d["sum_r"], d["sum_g"], d["sum_b"]) == tuple(exp)


def test_tiff_decoder_rejects_corruption():
    import struct

    import pytest as _pytest

    from irio_mapreduce_spark.llm.multimodal import decode_tiff, synth_tiff

    good = synth_tiff(4, 6, 5)  # even seed -> little-endian
    with _pytest.raises(ValueError, match="not a TIFF"):
        decode_tiff(b"XX" + good[2:])
    with _pytest.raises(ValueError, match="truncated TIFF"):
        decode_tiff(good[:40])
    # unsupported compression must reject, not decode garbage
    bad = bytearray(good)
    # find the Compression entry (tag 259) in the IFD and set value to 5
    (ifd_off,) = struct.unpack_from("<I", bad, 4)
    (n,) = struct.unpack_from("<H", bad, ifd_off)
    for i in range(n):
        base = ifd_off + 2 + 12 * i
        (tag,) = struct.unpack_from("<H", bad, base)
        if tag == 259:
            struct.pack_into("<H", bad, base + 8, 5)
    with _pytest.raises(ValueError, match="unsupported TIFF compression"):
        decode_tiff(bytes(bad))


def test_tiff_real_media_dispatch(spark):
    from irio_mapreduce_spark.llm.multimodal import (
        decode_real_media_features,
        synthesize_media,
    )

    ids = spark.range(400, 404).select(F.col("id").alias("media_id"))
    out = {r["media_id"]: r for r in decode_real_media_features(
        synthesize_media(ids, "tiff")
    ).collect()}
    for mid, r in out.items():  # mix of II (even) and MM (odd) payloads
        assert r["kind"] == "image"
        assert r["width"] == 4 + mid % 6 and r["height"] == 3 + mid % 7


def test_tiff_decoder_skips_unconsumed_tags():
    """Real baseline TIFFs carry RATIONAL/ASCII tags (XResolution,
    Software) the profile doesn't consume; the decoder must skip them
    rather than reject their field types (review finding)."""
    import struct

    from irio_mapreduce_spark.llm.multimodal import decode_tiff, synth_tiff

    good = synth_tiff(4, 6, 5)
    (ifd,) = struct.unpack_from("<I", good, 4)
    (n,) = struct.unpack_from("<H", good, ifd)
    # splice in a Software (tag 305, ASCII type 2) entry, inline value
    extra = struct.pack("<HHI", 305, 2, 4) + b"abc\x00"
    entries_end = ifd + 2 + 12 * n
    patched = (
        good[:ifd]
        + struct.pack("<H", n + 1)
        + good[ifd + 2 : entries_end]
        + extra
        + good[entries_end:]
    )
    assert decode_tiff(patched) == decode_tiff(good)


def test_tiff_dispatch_rejects_mismatched_magic(spark):
    """II paired with big-endian 42 is NOT a TIFF: the decode stage must
    classify it kind='unknown', never raise out of the worker."""
    from irio_mapreduce_spark.llm.multimodal import (
        MEDIA_SCHEMA,
        decode_real_media_features,
    )

    rows = [(1, b"II\x00\x2athis-is-not-a-tiff", None)]
    df = local_df(spark, rows, MEDIA_SCHEMA)
    out = decode_real_media_features(df).collect()
    assert out[0]["kind"] == "unknown"


def test_jpeg_block_constant_roundtrip_bit_exact():
    """The exactly-representable class of the lossy codec: block-constant
    grayscale images (DC-only blocks, DC quantizer 1) must roundtrip the
    FULL entropy-coded pipeline to the exact generator values — this is
    what backs the multimodal_real_jpeg oracle."""
    from irio_mapreduce_spark.llm import multimodal as mm

    for seed in (0, 1, 5, 42, 255, 1000):
        w, h = 8 * (1 + seed % 3), 8 * (1 + seed % 2)
        payload = mm.synth_jpeg(seed, w, h)
        assert payload[:2] == b"\xff\xd8" and payload[-2:] == b"\xff\xd9"
        W, H, pix = mm.decode_jpeg_pixels(payload)
        assert (W, H) == (w, h)
        for y in range(h):
            for x in range(w):
                assert pix(x, y) == mm._jpeg_block_value(seed, x // 8, y // 8)


def test_jpeg_general_roundtrip_bounded_error():
    """General images genuinely lose data to the AC quantizer (divisor 2);
    the roundtrip error must stay within the per-coefficient bound.
    Covers non-multiple-of-8 dims (edge-replication padding + crop),
    adversarial max-AC-energy checkerboards (the category-overflow trap a
    quant-1 AC table would hit), and 4:4:4 color."""
    import random

    from irio_mapreduce_spark.llm import multimodal as mm

    rng = random.Random(7)
    w, h = 19, 11
    px = {(x, y): rng.randrange(256) for x in range(w) for y in range(h)}
    W, H, pix = mm.decode_jpeg_pixels(
        mm.encode_jpeg(w, h, lambda x, y: px[(x, y)])
    )
    assert (W, H) == (w, h)
    assert max(abs(pix(x, y) - px[(x, y)]) for x in range(w) for y in range(h)) <= 16

    # checkerboard: max AC energy, must encode without category overflow
    W, H, pix = mm.decode_jpeg_pixels(
        mm.encode_jpeg(16, 16, lambda x, y: 255 if (x + y) % 2 else 0)
    )
    assert all(
        pix(x, y) == (255 if (x + y) % 2 else 0)
        for x in range(16)
        for y in range(16)
    )

    # color (RGB -> YCbCr -> RGB adds conversion rounding)
    pxc = {
        (x, y): (rng.randrange(256), rng.randrange(256), rng.randrange(256))
        for x in range(w)
        for y in range(h)
    }
    W, H, pix = mm.decode_jpeg_pixels(
        mm.encode_jpeg(w, h, lambda x, y: pxc[(x, y)], gray=False)
    )
    assert (W, H) == (w, h)
    assert (
        max(
            max(abs(a - b) for a, b in zip(pix(x, y), pxc[(x, y)]))
            for x in range(w)
            for y in range(h)
        )
        <= 16
    )


def test_jpeg_decoder_rejects_corruption_and_names_unsupported():
    """Structural garbage raises ValueError; genuinely-unsupported JPEG
    variants (progressive, subsampled chroma, restart intervals) raise
    NotImplementedError BY NAME — the honesty boundary, not a silent
    wrong answer."""
    import pytest

    from irio_mapreduce_spark.llm import multimodal as mm

    good = mm.synth_jpeg(3, 16, 8)

    with pytest.raises(ValueError, match="SOI"):
        mm.decode_jpeg(b"\x00\x01" + good[2:])
    with pytest.raises(ValueError):
        mm.decode_jpeg(good[:40])  # truncated before SOS
    with pytest.raises(ValueError):
        mm.decode_jpeg(good[:-20])  # truncated entropy stream

    # flip SOF0 -> SOF2 (progressive): must raise by name
    sof_at = good.find(b"\xff\xc0")
    prog = good[:sof_at] + b"\xff\xc2" + good[sof_at + 2 :]
    with pytest.raises(NotImplementedError, match="progressive"):
        mm.decode_jpeg(prog)

    # claim 2x2 subsampling in SOF: must raise by name
    sub = bytearray(good)
    sub[sof_at + 11] = 0x22  # component 1 sampling factors
    with pytest.raises(NotImplementedError, match="subsampl"):
        mm.decode_jpeg(bytes(sub))

    # legal 0xFF fill bytes before a marker (T.81 B.1.1.2) must be
    # tolerated, not parsed as a segment length (r6 ADVICE.md)
    padded = good[:2] + b"\xff\xff" + good[2:]
    assert mm.decode_jpeg(padded) == mm.decode_jpeg(good)

    # standalone TEM marker (0x01, length-less) is skipped
    tem = good[:2] + b"\xff\x01" + good[2:]
    assert mm.decode_jpeg(tem) == mm.decode_jpeg(good)

    # standalone RSTn before SOS implies restart intervals: by-name raise
    with pytest.raises(NotImplementedError, match="restart"):
        mm.decode_jpeg(good[:2] + b"\xff\xd0" + good[2:])


def test_jpeg_real_media_dispatch(spark):
    """JPEG payloads decode off their own magic bytes alongside the other
    real codecs, and the decoded sums equal the closed-form block sums."""
    from irio_mapreduce_spark.llm.multimodal import (
        _jpeg_block_value,
        decode_real_media_features,
        synthesize_media,
    )

    ids = spark.range(0, 4).select(F.col("id").alias("media_id"))
    mixed = synthesize_media(ids, "real").unionByName(
        synthesize_media(
            spark.range(200, 204).select(F.col("id").alias("media_id")), "jpeg"
        )
    )
    rows = {r["media_id"]: r for r in decode_real_media_features(mixed).collect()}
    for mid in (200, 201, 202, 203):
        w, h = 8 * (1 + mid % 3), 8 * (1 + mid % 2)
        exp = sum(
            64 * _jpeg_block_value(mid, bx, by)
            for by in range(h // 8)
            for bx in range(w // 8)
        )
        r = rows[mid]
        assert r["kind"] == "image"
        assert (r["width"], r["height"]) == (w, h)
        assert r["sum_r"] == r["sum_g"] == r["sum_b"] == exp


def test_jpeg_batched_dct_matches_scalar_reference():
    """The numpy-batched einsum DCT/IDCT used by the codec must agree
    with the scalar reference implementation (the spec-shaped triple
    loop) to float64 noise — and roundtrip to identity. Pins the
    vectorization against silent index-convention drift (u/v transposes
    are the classic JPEG bug)."""
    import random

    import numpy as np

    from irio_mapreduce_spark.llm import multimodal as mm

    rng = random.Random(3)
    block = [[float(rng.randrange(-128, 128)) for _ in range(8)] for _ in range(8)]
    ref = np.asarray(mm._jpeg_dct2(block))
    c = np.asarray(mm._JPEG_DCT_C)
    b = np.asarray(block)[None, :, :]
    got = np.einsum("ux,abxy,vy->abuv", c, b[None], c)[0, 0]
    assert np.max(np.abs(got - ref)) < 1e-9

    back = np.asarray(mm._jpeg_idct2(ref.tolist()))
    got_back = np.einsum("ux,buv,vy->bxy", c, ref[None], c)[0]
    assert np.max(np.abs(got_back - back)) < 1e-9
    assert np.max(np.abs(back - np.asarray(block))) < 1e-9  # orthonormal


def test_pca_power_iteration_quality(spark):
    """The driver hash pins the ARITHMETIC of ml_pca_power_iteration;
    this pins its QUALITY, with the right metric for each regime. The
    corpus spectrum is nearly flat (lam1/lam2 ~ 1.01), where eigenvector
    identity is unreachable in fixed rounds but captured VARIANCE is the
    meaningful target: the Rayleigh quotient of the returned direction
    must reach 0.94*lam1 (numpy float reference — only the test compares,
    nothing is hash-matched against it). On a SPIKED matrix (lam1/lam2 =
    10) the same fixed-point helper must actually recover the planted
    eigenvector."""
    import numpy as np

    from irio_mapreduce_spark.llm.clustering import power_iteration_fixed_point
    from irio_mapreduce_spark.queries.ml_q import ml_pca_power_iteration

    rows = ml_pca_power_iteration(spark, "/root/testdata/sf0.01").collect()
    v = np.array(
        [r["v_scaled"] for r in sorted(rows, key=lambda r: r["dim_idx"])],
        dtype=np.float64,
    )
    emb = (
        spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
        .select("embedding")
        .toPandas()["embedding"]
    )
    X = np.array([np.asarray(e, dtype=np.float64) for e in emb])
    cov = np.cov(X, rowvar=False)
    lam1 = np.linalg.eigvalsh(cov).max()
    rayleigh = (v @ cov @ v) / (v @ v)
    assert rayleigh >= 0.94 * lam1, (rayleigh, lam1)

    # spiked matrix: planted dominant direction must be recovered exactly
    rng = np.random.default_rng(11)
    q, _ = np.linalg.qr(rng.normal(size=(16, 16)))
    lam = np.array([10.0] + [1.0] * 15)
    planted = (q * lam) @ q.T
    m = [[int(round(x * 10**6)) for x in row] for row in planted]
    got = np.array(power_iteration_fixed_point(m, rounds=8), dtype=np.float64)
    top = q[:, 0]
    cos = abs(got @ top) / (np.linalg.norm(got) * np.linalg.norm(top))
    assert cos > 0.999, cos


def test_bmp_rle8_roundtrip_and_escape_grammar():
    """The RLE8 codec is genuinely invertible on the supported profile,
    decodes hand-built ABSOLUTE-mode streams (word alignment included),
    and raises BY NAME on delta escapes / implied pixels — the honesty
    boundary — and with ValueError on structural corruption."""
    import struct

    import pytest

    from irio_mapreduce_spark.llm import multimodal as mm

    for seed, w, h in [(1, 6, 5), (7, 14, 10), (12, 9, 6), (3, 4, 1)]:
        payload = mm.encode_bmp_rle8(
            w, h, lambda x, y, s=seed: mm._rle8_index(s, x, y)
        )
        d = mm.decode_bmp_rle8(payload)
        exp_idx = sum(
            mm._rle8_index(seed, x, y) for y in range(h) for x in range(w)
        )
        assert (d["width"], d["height"], d["sum_idx"]) == (w, h, exp_idx)
        assert d["sum_b"] == exp_idx
        assert d["sum_g"] == sum(
            (2 * mm._rle8_index(seed, x, y)) % 256
            for y in range(h)
            for x in range(w)
        )

    # hand-built ABSOLUTE-mode stream: one 3-wide row as 00 03 [a b c] +
    # pad byte (n odd -> word alignment), EOL, EOB
    pal = mm._rle8_palette_bytes()
    offset = 14 + 40 + len(pal)
    data = bytes((0, 3, 10, 20, 30, 0)) + b"\x00\x00" + b"\x00\x01"
    hdr = struct.pack("<2sIHHI", b"BM", offset + len(data), 0, 0, offset)
    info = struct.pack(
        "<IiiHHIIiiII", 40, 3, 1, 1, 8, 1, len(data), 2835, 2835, 256, 0
    )
    d = mm.decode_bmp_rle8(hdr + info + pal + data)
    assert (d["width"], d["height"], d["sum_idx"]) == (3, 1, 60)
    assert d["sum_g"] == (2 * 10) % 256 + (2 * 20) % 256 + (2 * 30) % 256

    # delta escape raises by name
    delta = bytes((0, 2, 1, 1)) + b"\x00\x01"
    with pytest.raises(NotImplementedError, match="delta"):
        mm.decode_bmp_rle8(hdr + info + pal + delta)

    # early EOB leaving implied pixels raises by name
    short = bytes((2, 5)) + b"\x00\x01"  # 2 of 3 pixels covered
    with pytest.raises(NotImplementedError, match="implied"):
        mm.decode_bmp_rle8(hdr + info + pal + short)

    # structural corruption: truncated stream
    good = mm.encode_bmp_rle8(6, 5, lambda x, y: mm._rle8_index(1, x, y))
    with pytest.raises(ValueError):
        mm.decode_bmp_rle8(good[:-3])


def test_netpbm_codec_roundtrip_and_header_grammar():
    """P6/P5 encode->decode inverts exactly; the header scanner honors
    comment lines between ANY two tokens and rejects truncation."""
    from irio_mapreduce_spark.llm import multimodal as mm

    w, h = 5, 4
    d = mm.decode_ppm(mm.synth_ppm(7, w, h))
    assert (d["width"], d["height"]) == (w, h)
    assert d["sum_r"] == sum(
        (7 * 43 + y * 17 + x * 7) % 256 for y in range(h) for x in range(w)
    )
    g = mm.decode_ppm(mm.synth_pgm(9, w, h))
    assert g["sum_r"] == g["sum_g"] == g["sum_b"]
    assert g["sum_r"] == sum(
        (9 * 31 + y * 13 + x * 5) % 256 for y in range(h) for x in range(w)
    )

    # comments may sit between any two header tokens, and whitespace runs
    # of any length separate them — both P6 and P5
    body = bytes((x + y) % 256 for y in range(2) for x in range(3))
    hairy = b"P5 # c1\n  # c2\n 3\t#c3\n 2 # c4\n255\n" + body
    d2 = mm.decode_ppm(hairy)
    assert (d2["width"], d2["height"]) == (3, 2)
    assert d2["sum_r"] == sum(body)

    import pytest as _pt

    with _pt.raises(ValueError):
        mm.decode_ppm(mm.synth_ppm(1, 4, 4)[:-2])  # truncated raster
    with _pt.raises(ValueError):
        mm.decode_ppm(b"P6\n# only a comment")  # truncated header
    with _pt.raises(ValueError):
        mm.decode_ppm(b"P4\n1 1\n\x00")  # bitmap subformat: unsupported
    with _pt.raises(ValueError):
        mm.decode_ppm(b"P6\n2 2\n65535\n" + bytes(24))  # 16-bit maxval


def test_tga_codec_roundtrip_raw_and_rle():
    """TGA type 2 and type 10 must decode to identical channel sums (RLE
    is lossless), across dims that exercise run and literal packets."""
    from irio_mapreduce_spark.llm import multimodal as mm

    for seed in (2, 3, 7, 12):
        w, h = 6 + seed % 10, 5 + seed % 8
        px = lambda x, y, c: mm._tga_pixel(seed, x, y, c)  # noqa: E731
        raw = mm.decode_tga(mm.encode_tga(w, h, px, rle=False))
        rle = mm.decode_tga(mm.encode_tga(w, h, px, rle=True))
        assert raw == rle
        assert raw["width"] == w and raw["height"] == h
        exp_b = sum(px(x, y, 0) for x in range(w) for y in range(h))
        assert raw["sum_b"] == exp_b


def test_tga_decoder_rejects_corruption():
    from irio_mapreduce_spark.llm import multimodal as mm
    import pytest

    good = mm.synth_tga(5, 8, 6)  # odd seed -> RLE
    with pytest.raises(ValueError):  # footer signature gone
        mm.decode_tga(good[:-18] + b"\x00" * 18)
    with pytest.raises(ValueError):  # truncated RLE stream
        mm.decode_tga(good[:30] + good[-26:])
    bad = bytearray(mm.synth_tga(4, 6, 5))
    bad[16] = 16  # bpp 16
    with pytest.raises(ValueError):
        mm.decode_tga(bytes(bad))


def test_ico_codec_roundtrip_and_validation():
    from irio_mapreduce_spark.llm import multimodal as mm
    import pytest

    for seed in (1, 4, 9):
        w, h = 5 + seed % 12, 4 + seed % 9
        d = mm.decode_ico(mm.synth_ico(seed, w, h))
        assert (d["width"], d["height"]) == (w, h)
        assert d["sum_r"] == sum(
            mm._ico_pixel(seed, x, y, 2) for x in range(w) for y in range(h)
        )
    good = bytearray(mm.synth_ico(3, 6, 5))
    with pytest.raises(ValueError):  # directory/DIB dim disagreement
        bad = bytearray(good)
        bad[6] = 99
        mm.decode_ico(bytes(bad))
    with pytest.raises(ValueError):  # PNG-compressed entry, by name
        head = bytes(good[: 6 + 16])
        mm.decode_ico(head + b"\x89PNG\r\n\x1a\n" + b"\x00" * 64)


def test_tiff_deflate_roundtrip_matches_uncompressed():
    """Compression tag 8 must decode to the same sums as tag 1 for the
    same pixel function — per-strip zlib is lossless."""
    from irio_mapreduce_spark.llm import multimodal as mm

    for seed in (2, 5):
        w, h = 4 + seed % 6, 3 + seed % 7
        px = lambda x, y, c: (seed * 61 + y * 19 + x * 29 + c * 43) % 256  # noqa: E731
        bo = "<" if seed % 2 == 0 else ">"
        plain = mm.decode_tiff(mm.encode_tiff(w, h, px, byte_order=bo))
        defl = mm.decode_tiff(
            mm.encode_tiff(w, h, px, byte_order=bo, compression=8)
        )
        assert plain == defl


def test_mulaw_expand_properties():
    """G.711 expansion: odd symmetry on complements, full int16-safe
    range, zero maps where the ladder says it should."""
    from irio_mapreduce_spark.llm import multimodal as mm

    vals = [mm.mulaw_expand(b) for b in range(256)]
    assert min(vals) == -32124 and max(vals) == 32124
    # bytes b and b^0x80 differ only in sign bit of the complement:
    # expansions are exact negatives
    for b in range(128):
        assert mm.mulaw_expand(b) == -mm.mulaw_expand(b ^ 0x80)
    d = mm.decode_wav_mulaw(mm.synth_wav_mulaw(9, 8000, 100))
    assert d["n_samples"] == 100 and d["sample_rate"] == 8000


def test_wav_stereo_codec_roundtrip_and_mono_rejection():
    from irio_mapreduce_spark.llm import multimodal as mm
    import pytest

    d = mm.decode_wav_stereo(mm.synth_wav_stereo(7, 16000, 50))
    L = [((7 * 11 + i * 5) % 4001) - 2000 for i in range(50)]
    R = [((7 * 13 + i * 7) % 4001) - 2000 for i in range(50)]
    assert d["n_frames"] == 50
    assert d["l_sum_abs"] == sum(abs(x) for x in L)
    assert d["lr_dot"] == sum(a * b for a, b in zip(L, R))
    # the stereo parser rejects mono, the mono parser rejects stereo —
    # neither silently blends channels
    with pytest.raises(ValueError):
        mm.decode_wav_stereo(mm.synth_wav(3, 8000, 64))
    with pytest.raises(ValueError):
        mm.decode_wav(mm.synth_wav_stereo(3, 16000, 64))


def test_png_adam7_roundtrip_and_partition():
    """Adam7: the seven passes partition the grid exactly once for any
    dims, and encode->decode reproduces every pixel — including the
    degenerate shapes (empty passes, 1-pixel axes) and the >=2-tile
    case where every pass is non-trivial."""
    from irio_mapreduce_spark.llm import multimodal as mm

    for (w, h) in [(1, 1), (3, 5), (8, 8), (9, 9), (16, 2), (17, 19)]:
        cov = [[0] * w for _ in range(h)]
        for x0, y0, dx, dy in mm._ADAM7_PASSES:
            for y in range(y0, h, dy):
                for x in range(x0, w, dx):
                    cov[y][x] += 1
        assert all(
            cov[y][x] == 1 for y in range(h) for x in range(w)
        ), (w, h)
        wi, he, rows = mm.decode_png_pixels(mm.synth_png_adam7(5, w, h))
        assert (wi, he) == (w, h)
        assert all(
            rows[y][3 * x + c] == mm._png7_pixel(5, x, y, c)
            for y in range(h)
            for x in range(w)
            for c in range(3)
        ), (w, h)


def test_aiff_codec_roundtrip_and_corruption():
    """AIFF: the 80-bit extended sample rate must round-trip exactly for
    every real rate class (incl. non-powers-of-two and odd values), the
    odd-ANNO pad rule must not derail the chunk walk, and structural
    corruption must reject with ValueError, not struct.error."""
    import pytest

    from irio_mapreduce_spark.llm import multimodal as mm

    for rate in [8000, 11025, 22050, 33075, 44100, 48000, 96001]:
        assert mm._extended_to_int(mm._extended_from_int(rate)) == rate
    samples = [0, 1, -1, 2000, -2000, 32767, -32768]
    payload = mm.encode_aiff(22050, samples)
    got = mm.decode_aiff(payload)
    assert got == {
        "sample_rate": 22050,
        "n_samples": len(samples),
        "sum_abs": sum(abs(s) for s in samples),
        "n_nonneg": sum(1 for s in samples if s >= 0),
    }
    # synth formula matches the oracle's closed form
    seed, n = 7, 13
    synth = mm.decode_aiff(mm.synth_aiff(seed, 11025, n))
    ref = [((seed * 17 + i * 9) % 4001) - 2000 for i in range(n)]
    assert synth["sum_abs"] == sum(abs(s) for s in ref)
    assert synth["n_nonneg"] == sum(1 for s in ref if s >= 0)
    # corruption: truncated chunk, wrong magic, stereo, bad rate
    with pytest.raises(ValueError):
        mm.decode_aiff(payload[:-3])
    with pytest.raises(ValueError):
        mm.decode_aiff(b"RIFF" + payload[4:])
    bad = bytearray(payload)
    comm = payload.index(b"COMM")
    bad[comm + 8 : comm + 10] = (2).to_bytes(2, "big")  # channels=2
    with pytest.raises(ValueError):
        mm.decode_aiff(bytes(bad))
    with pytest.raises(ValueError):
        mm._extended_to_int(struct_pack_bad_rate())


def struct_pack_bad_rate() -> bytes:
    """An 80-bit extended value that is NOT an integer (mantissa has
    fraction bits below the exponent's shift)."""
    import struct

    return struct.pack(">HQ", 16383, (1 << 63) | 1)


def test_zip_codec_roundtrip_stdlib_crosscheck_and_corruption():
    """ZIP: the hand-rolled writer must be readable by the stdlib
    zipfile module (independent implementation cross-check) and vice
    versa; the reader must reject CRC corruption, truncation, and
    compressed members it does not support."""
    import io
    import zipfile

    import pytest

    from irio_mapreduce_spark.llm import multimodal as mm

    members = [("a.txt", b"hello world"), ("b/c.bin", bytes(range(50)))]
    payload = mm.encode_zip_stored(members)
    # stdlib reads ours
    with zipfile.ZipFile(io.BytesIO(payload)) as z:
        assert z.namelist() == ["a.txt", "b/c.bin"]
        assert z.read("a.txt") == b"hello world"
        assert z.read("b/c.bin") == bytes(range(50))
    # we read stdlib's (stored members)
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", compression=zipfile.ZIP_STORED) as z:
        for name, data in members:
            z.writestr(name, data)
    got = mm.decode_zip_stored(buf.getvalue())
    assert [(m["name"], m["n_bytes"]) for m in got] == [
        ("a.txt", 11),
        ("b/c.bin", 50),
    ]
    # corruption: flip a data byte -> CRC mismatch
    bad = bytearray(payload)
    bad[payload.index(b"hello world") + 1] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        mm.decode_zip_stored(bytes(bad))
    with pytest.raises(ValueError):
        mm.decode_zip_stored(payload[: len(payload) - 4])
    # compressed member rejected by name
    buf2 = io.BytesIO()
    with zipfile.ZipFile(buf2, "w", compression=zipfile.ZIP_DEFLATED) as z:
        z.writestr("d.txt", b"x" * 1000)
    with pytest.raises(ValueError, match="compression"):
        mm.decode_zip_stored(buf2.getvalue())


def test_animated_gif_roundtrip_sampling_and_rejects():
    """Animated GIF: frame sampling keeps exactly every k-th frame with
    per-frame sums matching a direct palette computation; single-frame
    animations still decode; partial-canvas frames reject."""
    import pytest

    from irio_mapreduce_spark.llm import multimodal as mm

    seed, w, h, nf = 9, 6, 5, 5
    payload = mm.synth_gif_animated(seed, w, h, nf)
    pal = mm._gif_palette()
    all_frames = mm.decode_gif_frames(payload, sample_every=1)
    assert [fr["frame_idx"] for fr in all_frames] == list(range(nf))
    sampled = mm.decode_gif_frames(payload, sample_every=2)
    assert [fr["frame_idx"] for fr in sampled] == [0, 2, 4]
    for fr in sampled:
        f = fr["frame_idx"]
        exp = [0, 0, 0]
        for y in range(h):
            for x in range(w):
                r, g, b = pal[mm._gif_anim_index(seed, f, x, y)]
                exp[0] += r
                exp[1] += g
                exp[2] += b
        assert (fr["sum_r"], fr["sum_g"], fr["sum_b"]) == tuple(exp)
    # the single-frame GIF87a corpus still decodes through the frame API
    single = mm.decode_gif_frames(mm.synth_gif(3, 8, 6), sample_every=1)
    assert len(single) == 1 and single[0]["width"] == 8
    # partial-canvas frame rejects: patch the first image descriptor
    # (located by its full prefix — a bare 0x2c byte also occurs inside
    # the palette/LZW data)
    import struct

    bad = bytearray(payload)
    desc = payload.index(b"\x2c" + struct.pack("<HHHH", 0, 0, w, h))
    bad[desc + 5 : desc + 7] = (w - 1).to_bytes(2, "little")
    with pytest.raises(ValueError, match="partial-canvas"):
        mm.decode_gif_frames(bytes(bad))
    # transparency flag in the GCE needs background compositing — must
    # reject rather than mis-sum transparent pixels as palette RGB
    trans = bytearray(payload)
    gce = payload.index(b"\x21\xf9\x04")
    trans[gce + 3] |= 0x01
    with pytest.raises(ValueError, match="transparent"):
        mm.decode_gif_frames(bytes(trans))


def test_qoi_roundtrip_and_op_coverage():
    """encode_qoi/decode_qoi invert each other on the synthetic pattern,
    and the encoded corpus exercises ALL FIVE ops (a pattern drift that
    stopped emitting e.g. INDEX would silently shrink decoder coverage —
    asserted here, not assumed)."""
    from irio_mapreduce_spark.llm import multimodal as mm

    ops = set()
    for mid in range(40):
        w, h = 7 + mid % 9, 4 + mid % 7
        pay = mm.synth_qoi(mid, w, h)
        d = mm.decode_qoi(pay)
        assert (d["width"], d["height"]) == (w, h)
        exp = [
            sum(mm.qoi_component(mid, p, c) for p in range(w * h))
            for c in range(3)
        ]
        assert [d["sum_r"], d["sum_g"], d["sum_b"]] == exp
        pos, end = 14, len(pay) - 8
        while pos < end:
            op = pay[pos]
            pos += 1
            if op == 0xFE:
                ops.add("RGB")
                pos += 3
            elif op >> 6 == 0:
                ops.add("INDEX")
            elif op >> 6 == 1:
                ops.add("DIFF")
            elif op >> 6 == 2:
                ops.add("LUMA")
                pos += 1
            else:
                ops.add("RUN")
    assert ops == {"RGB", "INDEX", "DIFF", "LUMA", "RUN"}


def test_qoi_structural_rejects():
    """Corrupt QOI payloads raise by NAME: bad magic, missing end marker,
    truncated stream, RGBA op in a channels=3 stream, run overshooting
    the declared pixel count, trailing bytes."""
    import struct as _s

    import pytest

    from irio_mapreduce_spark.llm import multimodal as mm

    good = mm.synth_qoi(3, 9, 5)
    with pytest.raises(ValueError, match="not a QOI"):
        mm.decode_qoi(b"junk" + good[4:])
    with pytest.raises(ValueError, match="end marker"):
        mm.decode_qoi(good[:-1])
    with pytest.raises(ValueError, match="truncated QOI"):
        mm.decode_qoi(good[:20] + mm._QOI_END)
    hdr = mm._QOI_MAGIC + _s.pack(">IIBB", 1, 1, 3, 0)
    with pytest.raises(ValueError, match="RGBA"):
        mm.decode_qoi(hdr + bytes([0xFF, 1, 2, 3, 4]) + mm._QOI_END)
    # 1x1 image but a run of 2 pixels: RGB then RUN(1 more)
    with pytest.raises(ValueError, match="overshoots"):
        mm.decode_qoi(
            mm._QOI_MAGIC
            + _s.pack(">IIBB", 1, 2, 3, 0)
            + bytes([0xFE, 9, 9, 9, 0xC0 | 2])
            + mm._QOI_END
        )
    with pytest.raises(ValueError, match="trailing"):
        mm.decode_qoi(
            hdr + bytes([0xFE, 9, 9, 9, 0x00]) + mm._QOI_END
        )
    with pytest.raises(ValueError, match="channel count"):
        mm.decode_qoi(
            mm._QOI_MAGIC + _s.pack(">IIBB", 1, 1, 4, 0) + mm._QOI_END
        )


def test_fused_multimodal_pipelines_equal_staged(spark):
    """r12 ADVICE pin: the four FUSED single-crossing pipelines
    (multimodal.py r12 optimization) must equal the staged chains over
    ``synthesize_media(ids, "real")`` (even id ⇔ BMP, w=8+mid%9,
    h=6+mid%7, sr=4000+(mid%5)·1000, n=64+mid%129); this test pins them
    DIRECTLY equal, row for row, over an id range covering every
    (w, h, sr, n) residue class."""
    from irio_mapreduce_spark.llm.multimodal import (
        decode_real_media_features,
        decode_wav_segments,
        real_audio_segment_features_fused,
        real_media_features_fused,
        resize_real_images,
        resized_real_image_features_fused,
        segment_real_audio,
        synthesize_media,
        wav_energy_windows,
        wav_energy_windows_fused,
    )

    ids = spark.range(0, 130).select(F.col("id").alias("media_id"))

    def rows(df):
        return sorted(
            (tuple(r[c] for c in sorted(df.columns)) for r in df.collect()),
            key=repr,
        )

    media = synthesize_media(ids, "real")
    # 1. synthesize -> decode
    assert rows(real_media_features_fused(ids)) == rows(
        decode_real_media_features(media)
    )
    # 2. synthesize -> filter images -> resize -> decode
    staged_resize = decode_real_media_features(
        resize_real_images(media.filter(F.col("meta.kind") == "image"), 6, 4)
    )
    assert rows(
        resized_real_image_features_fused(ids, 6, 4)
    ) == rows(staged_resize)
    # 3. synthesize -> filter audio -> segment -> decode segments
    staged_seg = decode_wav_segments(
        segment_real_audio(
            media.filter(F.col("meta.kind") == "audio"),
            segment_ms=20,
            max_segments=4,
        )
    )
    assert rows(
        real_audio_segment_features_fused(ids, segment_ms=20, max_segments=4)
    ) == rows(staged_seg)
    # 4. synthesize -> filter audio -> frame energies
    staged_energy = wav_energy_windows(
        media.filter(F.col("meta.kind") == "audio"), window_samples=32
    )
    assert rows(wav_energy_windows_fused(ids, window_samples=32)) == rows(
        staged_energy
    )
