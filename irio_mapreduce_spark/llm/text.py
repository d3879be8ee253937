"""Text analysis operators: token stats, quality scoring, language ID,
document fingerprinting. All pure ``pyspark.sql.functions`` compositions —
whole-stage codegen, no Python in the hot path (SURVEY.md §2.2 scalar
families are the building blocks).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from irio_mapreduce_spark.llm.dedup import tokens

# Tiny per-language marker profiles for the stopword-overlap language-ID
# heuristic. Real pipelines plug in real profiles (e.g. per-language top-1k
# stopwords); the operator is profile-agnostic.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to"),
    "de": ("der", "die", "und", "das", "ein"),
    "fr": ("le", "la", "et", "les", "des"),
}

# A BPE-ish token estimate: runs of word chars, digits, or single
# punctuation — approximates subword-tokenizer counts far better than
# whitespace alone on real text.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


def token_count(text_col: str | Column) -> Column:
    """Whitespace token count."""
    return F.size(tokens(text_col, lowercase=False))


def bpe_ish_count(text_col: str | Column) -> Column:
    """Regex-split pseudo-BPE token count (letters runs + digits + punct)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.size(F.regexp_extract_all(c, F.lit(BPE_ISH_PATTERN), 0))


# Ratios use try_divide throughout: Spark 4 runs ANSI mode by default, where
# a bare `/` on an empty/single-token document raises DIVIDE_BY_ZERO mid-job.
# try_divide returns NULL on zero denominators — which is also exactly what
# DuckDB's `/` does, so the oracle semantics stay aligned on degenerate rows.


def type_token_ratio(text_col: str | Column) -> Column:
    t = tokens(text_col)
    return F.try_divide(F.size(F.array_distinct(t)), F.size(t))


def stopword_ratio(text_col: str | Column, stopwords: tuple[str, ...]) -> Column:
    t = tokens(text_col)
    sw = F.array(*[F.lit(s) for s in stopwords])
    hits = F.size(F.filter(t, lambda w: F.array_contains(sw, w)))
    return F.try_divide(hits, F.size(t))


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach the standard quality-filter features. Downstream filters pick
    thresholds (e.g. C4-style: drop docs with too-low stopword ratio or
    degenerate type/token ratio)."""
    return df.withColumns(
        {
            "n_tokens": token_count(text_col),
            "n_bpe_ish": bpe_ish_count(text_col),
            "ttr": F.round(type_token_ratio(text_col), 6),
            "mean_word_len": F.round(
                F.try_divide(
                    F.aggregate(
                        tokens(text_col),
                        F.lit(0).cast("long"),
                        lambda a, t: a + F.length(t),
                    ),
                    token_count(text_col),
                ),
                6,
            ),
        }
    )


def langid_scores(text_col: str | Column) -> dict[str, Column]:
    """Stopword-overlap score per profile language (count of profile-word
    occurrences, normalized by token count)."""
    t = tokens(text_col)
    out = {}
    for lang, words in LANG_PROFILES.items():
        sw = F.array(*[F.lit(s) for s in words])
        out[lang] = F.try_divide(
            F.size(F.filter(t, lambda w: F.array_contains(sw, w))), F.size(t)
        )
    return out


def langid_predict(text_col: str | Column) -> Column:
    """Argmax over profile scores with a fixed tie-break order (en > de >
    fr) so the prediction is deterministic and oracle-expressible."""
    s = langid_scores(text_col)
    return (
        F.when((s["en"] >= s["de"]) & (s["en"] >= s["fr"]), F.lit("en"))
        .when(s["de"] >= s["fr"], F.lit("de"))
        .otherwise(F.lit("fr"))
    )


def chunk_list(
    toks_col: Column, chunk_size: int = 16, stride: int = 12
) -> Column:
    """Fixed-size token windows with overlap (``chunk_size - stride``
    tokens shared between adjacent chunks) — the standard long-document →
    training-sequence split. Returns ``array<string>`` of space-joined
    chunks; the last chunk may be short, and a doc with ≤ chunk_size
    tokens yields exactly one chunk.

    ``toks_col`` must be a MATERIALIZED token-array column (project
    ``tokens(text).alias("toks")`` in a separate select first), not the
    tokenize expression itself: the slice inside the per-chunk lambda
    re-evaluates its captured subexpression per element, so an inlined
    regex split turns an n-token doc into O(n²/stride) split work — the
    same re-evaluation trap as ``_max_run_count`` documents. On a column
    reference the slice is O(chunk_size) per chunk.

    Chunking 100 TB is a single narrow pass (no shuffle); the downstream
    explode multiplies rows ~n/stride — partition sizing should budget
    for that fan-out, not the input."""
    n = F.size(toks_col)
    n_chunks = (
        F.when(n <= chunk_size, F.lit(1))
        .otherwise(F.ceil((n - chunk_size) / F.lit(float(stride))).cast("int") + 1)
    )
    return F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(F.slice(toks_col, i * stride + 1, chunk_size), " "),
    )


def _max_run_count(arr: Column) -> Column:
    """Highest multiplicity of any element: sort, then one fold counting
    the longest equal-run. O(n log n) per row, and the input array
    expression is evaluated ONCE.

    Why not the obvious ``transform(array_distinct(a), d ->
    size(filter(a, x -> x = d)))``: nested higher-order lambdas re-evaluate
    the captured array expression per outer element (and ``a`` here is a
    regex split of the text), turning a 5k-row pass into minutes —
    measured on both Spark and DuckDB. A single fold sidesteps the
    re-evaluation entirely."""
    s = F.array_sort(arr)
    init = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
    )

    def step(acc: Column, x: Column) -> Column:
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"), run.alias("run"), F.greatest(acc["best"], run).alias("best")
        )

    return F.aggregate(s, init, step, lambda acc: acc["best"])


def max_token_share(text_col: str | Column) -> Column:
    """Share of the most frequent token — the Gopher-style repetition
    signal (a doc dominated by one token is boilerplate/spam). Per-row
    sorted-fold expression; no shuffle."""
    t = tokens(text_col)
    return F.try_divide(_max_run_count(t), F.size(t))


def max_bigram_share(text_col: str | Column) -> Column:
    """Share of the most frequent adjacent-token bigram (catches looped
    phrases that single-token share misses). NULL for single-token docs
    (no bigrams) — aggregate with ``avg``, which skips nulls."""
    t = tokens(text_col)
    n = F.size(t)
    # zip_with over two slices (not transform-over-indices with element_at):
    # its array arguments are evaluated once, while element_at(t, i) inside
    # a lambda re-evaluates the regex split per element.
    # greatest(n-1, 0): slice rejects negative lengths, which n-1 hits on
    # an EMPTY document (tokens('') = []).
    m = F.greatest(n - 1, F.lit(0))
    bgs = F.zip_with(
        F.slice(t, 1, m),
        F.slice(t, 2, m),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    return F.try_divide(_max_run_count(bgs), m)


# PII patterns restricted to syntax shared by Java regex (Spark) and RE2
# (DuckDB): no backrefs, no lookaround.
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_PATTERN = r"\b\d{3}[- ]\d{4}\b"


def redact_pii(text_col: str | Column) -> Column:
    """Mask email addresses and phone-like digit groups with typed
    placeholder tokens — the standard pre-training PII scrub. Pure
    ``regexp_replace`` composition (JVM-side, codegen; no UDF)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.regexp_replace(
        F.regexp_replace(c, EMAIL_PATTERN, "<EMAIL>"), PHONE_PATTERN, "<PHONE>"
    )


def positional_fingerprint(text_col: str | Column, mod: int = 2147483647) -> Column:
    """Order-sensitive document fingerprint: sum over token positions of
    ``i * h(token_i) mod M`` where ``h`` uses only portable primitives
    (length, first code point) so any SQL engine can reproduce it.
    Detects reorderings that set-based fingerprints miss; computed per-row
    with higher-order functions (no shuffle)."""
    t = tokens(text_col)
    return F.aggregate(
        F.transform(
            t,
            lambda tok, i: (i + 1)
            * (F.length(tok) * 31 + F.ascii(F.substring(tok, 1, 1)))
            % F.lit(mod),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: (acc + x) % F.lit(mod),
    )


def unigram_surprisal(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document unigram-LM rarity score — the perplexity-proxy quality
    filter (CCNet-style: score each document under a corpus LM, threshold
    the tails). The LM here is the corpus's own unigram frequency table;
    each token occurrence contributes its inverse relative frequency
    ``N / count(token)``; the output carries the exact per-document sum
    plus the token count (score = sum / n_tokens, one division away).
    Common-word documents score near the corpus mean, gibberish or
    rare-token-dense documents score high — the same signal shape as
    ``exp(mean surprisal)``, kept exact-rational instead of transcendental
    (``ln``/``exp`` are not correctly-rounded cross-engine; the monotone
    transform preserves every thresholding decision).

    Exactness: FIXED-POINT INTEGER arithmetic, like
    ``operators.graph.pagerank`` — each token's term is
    ``(N * 10^8) div count`` (BIGINT floor division) and the per-document
    sum is an exact integer, bit-identical in any engine under any
    partitioning. (A first cut cast the ``N/count`` double to
    DECIMAL(38,10); that cast itself rounds differently between engines
    in the last ulp — Spark rounds the exact BigDecimal expansion, DuckDB
    the double-scaled product — the same divergence pagerank's float
    formulation hit.) Headroom: max term = N·10^8 (a hapax), so a
    document of d hapaxes sums to d·N·10^8 — overflow-safe while
    d·N < 9·10^10; corpora past that scale lower the term scale.

    Plan shape: the classic two-pass MapReduce job — one shuffle to build
    the frequency table keyed by token, the terms join back on the same
    key, one shuffle to the per-document sum. The frequency table is the
    persistable LM artifact at production scale.

    Output: (id, n_tokens, sum_inv_freq_fp) with the fixed-point sum at
    10^8 units per 1.0 — score = sum / (n_tokens * 10^8), one consumer
    division away.
    """
    scale = 10**8
    ex = df.select(F.col(id_col).alias("_id"), F.explode(tokens(F.col(text_col))).alias("_tok"))
    cnt = ex.groupBy("_tok").agg(F.count("*").alias("_c"))
    tot = cnt.agg(F.sum("_c").alias("_n"))
    term = cnt.join(F.broadcast(tot)).select(
        "_tok",
        F.expr(f"(_n * {scale}) div _c").alias("_r"),
    )
    return (
        ex.join(term, "_tok")
        .groupBy("_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum("_r").cast("long").alias("sum_inv_freq_fp"),
        )
        .select(
            F.col("_id").alias(id_col),
            "n_tokens",
            "sum_inv_freq_fp",
        )
    )


def normalize_text(text_col: str | Column) -> Column:
    """C4-style text normalization: strip URLs and bracketed citation
    markers, collapse runs of whitespace, trim. The cheap cleanup pass a
    curation pipeline runs before fingerprinting/dedup so that cosmetic
    noise (tracking URLs, footnote markers, ragged spacing) doesn't break
    exact-hash grouping. Chained ``regexp_replace`` — JVM-side, narrow,
    zero shuffle; patterns restricted to the Java-regex ∩ RE2 subset like
    :func:`redact_pii` so any engine reproduces them byte-for-byte. The
    whitespace class is EXPLICIT (``[ \\t\\n\\r\\f]``) rather than ``\\s``:
    Java's ``\\s`` includes vertical tab (\\x0B), RE2's does not, so
    ``\\s`` would diverge between engines on \\x0B-bearing text.
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    no_url = F.regexp_replace(c, r"https?://[^ \t\n\r\f]+", "")
    no_cite = F.regexp_replace(no_url, r"\[\d+\]", "")
    return F.trim(F.regexp_replace(no_cite, r"[ \t\n\r\f]+", " "))


def pmi_collocations(
    df: DataFrame,
    text_col: str,
    min_count: int,
    top_n: int,
    scale: int = 10**6,
) -> DataFrame:
    """Top collocations (adjacent-token bigrams) ranked by an exact
    fixed-point PMI lift score. Returns
    ``(bigram, c_xy, c_x, c_y, lift_fp)`` — the ``top_n`` bigrams with
    ``c_xy >= min_count`` by ``(lift_fp DESC, bigram)``.

    PMI(x,y) = log( p(xy) / (p(x)p(y)) ) is monotone in
    ``c_xy / (c_x · c_y)`` for a fixed corpus, and log is a
    transcendental that is NOT correctly rounded identically across
    engines (the catalog's no-transcendentals convention) — so the score
    is the log's argument in fixed point, as a FIXED evaluation order:
    ``t1 = (c_xy · scale) div c_x`` then ``lift_fp = (t1 · scale) div
    c_y``. Overflow-safe by construction at ANY corpus size: every
    bigram occurrence consumes one occurrence of x (and of y), so
    ``c_xy <= c_x`` and ``t1 <= scale``, hence ``t1 · scale <= 10^12``
    — no N multiply that would blow int64 at web scale. Readers wanting
    true PMI apply ``log(lift_fp · N / scale²)`` presentation-side.

    Scale shape: one shuffle for bigram counts, one for unigram counts
    (both partial-aggregated map-side), two joins keyed by token to
    attach ``c_x``/``c_y`` (standard shuffled hash joins; the unigram
    side is the distinct vocabulary, orders of magnitude smaller than
    the corpus), and a TakeOrdered top-n — no global sort. Bigrams are
    built per-row with ``zip_with`` over two slices (array args
    evaluated once — the ``max_bigram_share`` re-evaluation note).
    """
    t = tokens(F.col(text_col))
    n = F.size(t)
    m = F.greatest(n - 1, F.lit(0))
    pairs = df.select(
        F.explode(
            F.zip_with(
                F.slice(t, 1, m),
                F.slice(t, 2, m),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("bg")
    ).select("bg.w1", "bg.w2")
    uni = df.select(F.explode(t).alias("w")).groupBy("w").agg(
        F.count("*").alias("c_w")
    )
    bi = pairs.groupBy("w1", "w2").agg(F.count("*").alias("c_xy"))
    scored = (
        bi.filter(F.col("c_xy") >= min_count)
        .join(uni.select(F.col("w").alias("w1"), F.col("c_w").alias("c_x")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("c_w").alias("c_y")), "w2")
        .select(
            F.concat_ws(" ", "w1", "w2").alias("bigram"),
            F.col("c_xy").cast("long").alias("c_xy"),
            F.col("c_x").cast("long").alias("c_x"),
            F.col("c_y").cast("long").alias("c_y"),
            F.expr(f"((c_xy * {scale}) div c_x * {scale}) div c_y").alias(
                "lift_fp"
            ),
        )
    )
    from irio_mapreduce_spark.operators.topk import top_k

    return top_k(
        scored,
        [F.col("lift_fp").desc(), F.col("bigram").asc()],
        top_n,
    )
