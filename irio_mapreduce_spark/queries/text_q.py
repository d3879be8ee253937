"""Text-analysis catalog queries over ``documents`` (SURVEY.md §2.2
LLM-data-pipeline table): token statistics, quality scoring, stopword-
profile language ID, positional fingerprinting. All exact compositions of
built-in functions -> all fully oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from irio_mapreduce_spark.io import read_table
from irio_mapreduce_spark.llm.text import (
    pmi_collocations,
    bpe_ish_count,
    chunk_list,
    langid_predict,
    max_bigram_share,
    max_token_share,
    normalize_text,
    positional_fingerprint,
    quality_features,
    redact_pii,
    stopword_ratio,
    type_token_ratio,
    unigram_surprisal,
)
from irio_mapreduce_spark.operators.topk import top_k_per_group
from irio_mapreduce_spark.queries.catalog import register

# DuckDB fragment matching llm.dedup.tokens(text): lowercased whitespace
# tokens, empties removed.
_DUCK_TOKS = (
    "list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '')"
)


@register(
    "text_token_stats",
    oracle=f"""
    WITH t AS (SELECT lang, n_chars, {_DUCK_TOKS} AS toks FROM documents)
    SELECT lang,
           count(*) AS n_docs,
           round(avg(len(toks)), 4) AS avg_tokens,
           round(avg(n_chars), 4) AS avg_chars,
           round(avg(len(list_distinct(toks)) * 1.0 / len(toks)), 4) AS avg_ttr
    FROM t GROUP BY lang
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token statistics per language: doc counts, mean token/char
    counts, mean type-token ratio. One narrow pass + a 5-group aggregate.

    avg_ttr averages the UNROUNDED per-doc ratio (matching the oracle) and
    rounds only the final mean, at 4 digits: averaging pre-rounded ratios
    shifted the mean by ~1e-6, enough to flip a 6-digit rounding boundary
    between engines (caught by an exact-compare sweep)."""
    docs = quality_features(read_table(spark, sf_dir, "documents")).withColumn(
        "ttr_raw", type_token_ratio(F.col("text"))
    )
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.round(F.avg("ttr_raw"), 4).alias("avg_ttr"),
    )


@register(
    "text_quality_filter",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, {_DUCK_TOKS} AS toks,
             len(string_split_regex(text, '[^A-Za-z0-9\\s]')) - 1 AS n_punct
      FROM documents)
    SELECT doc_id, source,
           len(toks) AS n_tokens,
           round(len(list_distinct(toks)) * 1.0 / len(toks), 6) AS ttr
    FROM t
    WHERE len(toks) BETWEEN 20 AND 200
      AND len(list_distinct(toks)) * 1.0 / len(toks) >= 0.15
    """,
)
def text_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality filtering, C4-style: keep docs in a token-count band with
    non-degenerate type-token ratio (a repetition guard). Pure scan-side
    predicates — at 100 TB this is a single filtered pass, no shuffle."""
    docs = quality_features(read_table(spark, sf_dir, "documents"))
    return (
        docs.filter(
            (F.col("n_tokens") >= 20)
            & (F.col("n_tokens") <= 200)
            & (F.col("ttr") >= 0.15)
        )
        .select("doc_id", "source", "n_tokens", "ttr")
    )


@register(
    "text_langid_stopwords",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, {_DUCK_TOKS} AS toks FROM documents),
    s AS (SELECT doc_id, lang,
             len(list_filter(toks, w -> list_contains(['the','a','of','and','to'], w))) * 1.0 / len(toks) AS s_en,
             len(list_filter(toks, w -> list_contains(['der','die','und','das','ein'], w))) * 1.0 / len(toks) AS s_de,
             len(list_filter(toks, w -> list_contains(['le','la','et','les','des'], w))) * 1.0 / len(toks) AS s_fr
          FROM t)
    SELECT lang,
           CASE WHEN s_en >= s_de AND s_en >= s_fr THEN 'en'
                WHEN s_de >= s_fr THEN 'de'
                ELSE 'fr' END AS predicted,
           count(*) AS n_docs,
           round(avg(s_en), 4) AS avg_s_en
    FROM s GROUP BY 1, 2
    """,
)
def text_langid_stopwords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language ID (llm.text.langid_predict): per-profile
    overlap scores, argmax with a fixed tie-break so the prediction is
    deterministic. Grouped by (actual, predicted) = the confusion matrix."""
    docs = read_table(spark, sf_dir, "documents")
    return (
        docs.withColumn("predicted", langid_predict(F.col("text")))
        .withColumn(
            "s_en", stopword_ratio(F.col("text"), ("the", "a", "of", "and", "to"))
        )
        .groupBy("lang", "predicted")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("s_en"), 4).alias("avg_s_en"),
        )
    )


@register(
    "text_fingerprint",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents)
    SELECT doc_id,
           CAST(list_sum(list_transform(generate_series(1, len(toks)),
             i -> (i * ((length(toks[i]) * 31 + ord(toks[i][1])) % 2147483647))
                  % 2147483647)) % 2147483647 AS BIGINT) AS fp
    FROM t
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive positional document fingerprint (portable rolling
    hash, llm.text.positional_fingerprint) — catches reorderings that
    set-based fingerprints miss. Per-row higher-order aggregate, no
    shuffle."""
    docs = read_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", positional_fingerprint(F.col("text")).alias("fp")
    )


@register(
    "text_chunk_windows",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
    n AS (SELECT doc_id, toks,
            CASE WHEN len(toks) <= 16 THEN 1
                 ELSE CAST(ceil((len(toks) - 16) / 12.0) AS INT) + 1 END AS n_chunks
          FROM t)
    SELECT doc_id, i AS chunk_idx,
           array_to_string(toks[i*12+1 : i*12+16], ' ') AS chunk_text,
           least(16, len(toks) - i*12) AS chunk_tokens
    FROM n, UNNEST(generate_series(0, n_chunks - 1)) AS s(i)
    """,
)
def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document chunking into overlapping token windows (chunk 16, stride
    12 → 4-token overlap; llm.text.chunk_list) — the long-document →
    training-sequence split. Hash-checked chunk-by-chunk: ids, window
    contents, and short-tail lengths must match the oracle exactly."""
    docs = read_table(spark, sf_dir, "documents")
    from irio_mapreduce_spark.llm.dedup import tokens

    toks = docs.select("doc_id", tokens(F.col("text")).alias("toks"))
    return (
        toks.select(
            "doc_id",
            F.size("toks").alias("n_toks"),
            F.posexplode(chunk_list(F.col("toks"))).alias("chunk_idx", "chunk_text"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            "chunk_text",
            F.least(F.lit(16), F.col("n_toks") - F.col("chunk_idx") * 12).alias(
                "chunk_tokens"
            ),
        )
    )


@register(
    "text_repetition_metrics",
    oracle=f"""
    WITH t AS (SELECT doc_id, source, {_DUCK_TOKS} AS toks FROM documents),
    -- bind bgs once: inlining the bigram list inside BOTH list_distinct and
    -- the counting lambda makes DuckDB rebuild it per lambda call
    -- (O(n^2 * distinct) per row -- measured minutes at sf0.1; 2.5 s bound)
    b AS (SELECT doc_id, source, toks,
            list_transform(generate_series(1, len(toks)-1),
                           i -> toks[i] || ' ' || toks[i+1]) AS bgs
          FROM t),
    m AS (SELECT doc_id, source,
            list_max(list_transform(list_distinct(toks),
                     d -> len(list_filter(toks, x -> x = d)))) * 1.0 / len(toks)
              AS tok_share,
            list_max(list_transform(list_distinct(bgs),
                     d -> len(list_filter(bgs, x -> x = d)))) * 1.0 / len(bgs)
              AS bg_share
          FROM b)
    SELECT source, count(*) AS n_docs,
           round(avg(tok_share), 6) AS avg_max_tok_share,
           round(avg(bg_share), 6) AS avg_max_bigram_share,
           CAST(sum(CASE WHEN tok_share > 0.12 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_repetitive
    FROM m GROUP BY source
    """,
)
def text_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per source: mean share of
    the most frequent token and most frequent adjacent bigram, plus a
    flagged count over a threshold. Per-row higher-order expressions (no
    UDF, no shuffle beyond the final 20-group aggregate)."""
    docs = read_table(spark, sf_dir, "documents")
    m = docs.select(
        "source",
        max_token_share(F.col("text")).alias("tok_share"),
        max_bigram_share(F.col("text")).alias("bg_share"),
    )
    return m.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("tok_share"), 6).alias("avg_max_tok_share"),
        F.round(F.avg("bg_share"), 6).alias("avg_max_bigram_share"),
        F.sum(F.when(F.col("tok_share") > 0.12, 1).otherwise(0)).alias("n_repetitive"),
    )


@register(
    "text_pii_redaction",
    oracle="""
    WITH planted AS (
      SELECT doc_id, source,
             text
               || CASE WHEN doc_id % 7 = 0
                       THEN ' contact agent_' || doc_id || '@example.com now'
                       ELSE '' END
               || CASE WHEN doc_id % 11 = 0
                       THEN ' call 555-0142 today' ELSE '' END AS text
      FROM documents),
    red AS (
      SELECT doc_id, source,
             regexp_replace(regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\\b\\d{3}[- ]\\d{4}\\b', '<PHONE>', 'g') AS rtext
      FROM planted)
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_email_planted,
           CAST(sum(CASE WHEN contains(rtext, '<EMAIL>') THEN 1 ELSE 0 END) AS BIGINT)
             AS n_email_redacted,
           CAST(sum(CASE WHEN doc_id % 11 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_phone_planted,
           CAST(sum(CASE WHEN contains(rtext, '<PHONE>') THEN 1 ELSE 0 END) AS BIGINT)
             AS n_phone_redacted,
           CAST(sum(CASE WHEN contains(rtext, '@') THEN 1 ELSE 0 END) AS BIGINT)
             AS n_residual_at
    FROM red GROUP BY source
    """,
)
def text_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub with a planted-recall harness: the corpus carries no PII,
    so deterministic email/phone strings are planted on known doc-id
    residues in-query, then ``llm.text.redact_pii`` masks them. The
    oracle recomputes the plant + regex redaction — a hash match proves
    planted == redacted per source and zero residual '@' after the scrub
    (same pattern as dedup_simhash's planted variant harness). Pure
    regexp_replace, JVM-side."""
    docs = read_table(spark, sf_dir, "documents")
    planted = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" contact agent_"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com now"),
                ),
            ).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 11 == 0, F.lit(" call 555-0142 today")).otherwise(
                F.lit("")
            ),
        ),
    )
    red = planted.withColumn("rtext", redact_pii(F.col("text")))
    return red.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("doc_id") % 7 == 0, 1).otherwise(0)).alias(
            "n_email_planted"
        ),
        F.sum(F.when(F.col("rtext").contains("<EMAIL>"), 1).otherwise(0)).alias(
            "n_email_redacted"
        ),
        F.sum(F.when(F.col("doc_id") % 11 == 0, 1).otherwise(0)).alias(
            "n_phone_planted"
        ),
        F.sum(F.when(F.col("rtext").contains("<PHONE>"), 1).otherwise(0)).alias(
            "n_phone_redacted"
        ),
        F.sum(F.when(F.col("rtext").contains("@"), 1).otherwise(0)).alias(
            "n_residual_at"
        ),
    )


@register(
    "text_bpe_ish_tokens",
    oracle="""
    SELECT source,
           CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')))
                AS BIGINT) AS total_bpe_ish,
           CAST(sum(len(list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '')))
                AS BIGINT) AS total_ws
    FROM documents GROUP BY source
    """,
)
def text_bpe_ish_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways per source: whitespace vs a BPE-ish regex
    (letter runs + digits + punctuation) — the standard pre-training
    token-budget estimate."""
    docs = read_table(spark, sf_dir, "documents")
    ws = F.size(F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda t: t != ""))
    return docs.groupBy("source").agg(
        F.sum(bpe_ish_count("text")).alias("total_bpe_ish"),
        F.sum(ws).alias("total_ws"),
    )


@register(
    "text_tfidf_top_terms",
    oracle=f"""
    WITH tf AS (
      SELECT doc_id, w AS term, count(*) AS tf
      FROM (SELECT doc_id, unnest({_DUCK_TOKS}) AS w FROM documents)
      GROUP BY doc_id, w),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tf),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, df.df,
             CAST(tf.tf * n.n_docs AS DOUBLE) / df.df AS score
      FROM tf JOIN df ON tf.term = df.term CROSS JOIN n),
    ranked AS (
      SELECT doc_id, term, tf, df, score,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, term) AS rn
      FROM scored)
    SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
           round(score, 6) AS score
    FROM ranked WHERE rn <= 3 AND doc_id % 7 = 0
    """,
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF-style characteristic terms per document — THE canonical
    two-pass MapReduce workload (pass 1: term counts per doc; pass 2:
    document frequencies joined back; the reference would chain two
    Batches through ``final_dest_dir_id``).

    Scoring uses the exact-rational reciprocal-df form
    ``tf * N / df`` instead of ``tf * ln(N/df)``: integer products and
    one IEEE division are bitwise-identical across engines, while
    ``ln``/``pow`` are not correctly-rounded in either Spark (Java
    ``Math.log``) or DuckDB (libm) — the same reproducibility reasoning
    as the engine's hash-based sampling. The ranking is per-doc top-3
    with a term tie-break, so the output is a deterministic set.

    Plan: tokenize+explode -> (doc, term) count [shuffle 1], term df
    [shuffle 2, reduced frame], df joined back on term [shuffle 3 —
    vocabulary-sized, NOT broadcast: at 100 TB the vocabulary does not
    fit one executor], scalar N broadcast, per-doc window top-3
    [shuffle 4, WindowGroupLimit prunes map-side]. df is computed over
    the FULL corpus; only the reported doc subset (doc_id % 7) is
    row-filtered at the end so the statistics stay corpus-wide."""
    from irio_mapreduce_spark.llm.dedup import tokens

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    tf = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = tf.agg(F.count_distinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(df_, "term")
        .join(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            ((F.col("tf") * F.col("n_docs")).cast("double") / F.col("df")).alias(
                "score"
            ),
        )
    )
    return (
        top_k_per_group(scored, ["doc_id"], [F.col("score").desc(), F.col("term")], 3)
        .filter(F.col("doc_id") % 7 == 0)
        .select("doc_id", "term", "tf", "df", F.round("score", 6).alias("score"))
    )


@register(
    "text_unigram_surprisal",
    oracle=f"""
    WITH ex AS (SELECT doc_id, unnest({_DUCK_TOKS}) AS tok FROM documents),
    cnt AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM ex GROUP BY 1),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cnt),
    term AS (SELECT tok, (n * 100000000) // c AS r FROM cnt, tot)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(r) AS BIGINT) AS sum_inv_freq_fp
    FROM ex JOIN term USING (tok)
    GROUP BY doc_id
    """,
)
def text_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM rarity scoring — the perplexity-proxy quality filter:
    each token occurrence contributes its inverse corpus frequency as a
    fixed-point integer ``(N * 10^8) div count(token)``, summed exactly
    per document (see ``llm.text.unigram_surprisal`` for why fixed-point
    replaced the DECIMAL-cast form, and the two-shuffle MapReduce plan
    shape; the token frequency table is the persistable LM artifact)."""
    docs = read_table(spark, sf_dir, "documents")
    return unigram_surprisal(docs.select("doc_id", "text"), "doc_id", "text")


@register(
    "text_normalize_c4",
    oracle="""
    WITH planted AS (
      SELECT doc_id, text AS orig,
             text
               || CASE WHEN doc_id % 5 = 0
                       THEN '  see https://example.com/p/' || doc_id || '?ref=x '
                       ELSE '' END
               || CASE WHEN doc_id % 9 = 0 THEN ' [12]  noted' ELSE '' END AS text
      FROM documents),
    norm AS (
      SELECT doc_id, orig, text,
             trim(regexp_replace(regexp_replace(regexp_replace(text,
               'https?://[^ \t\n\r\f]+', '', 'g'),
               '\\[\\d+\\]', '', 'g'),
               '[ \t\n\r\f]+', ' ', 'g')) AS ntext
      FROM planted)
    SELECT doc_id,
           sha256(ntext) AS norm_fp,
           CAST(length(text) AS BIGINT) AS n_before,
           CAST(length(ntext) AS BIGINT) AS n_after,
           (doc_id % 5 = 0) AS had_url,
           NOT contains(ntext, 'http') AS url_gone
    FROM norm
    """,
)
def text_normalize_c4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style normalization with a planted-noise harness: deterministic
    tracking URLs, citation markers and ragged spacing are planted on
    known doc-id residues, then ``llm.text.normalize_text`` strips them.
    The oracle replays the plant + normalization; the hash match proves
    byte-identical cleanup and zero residual 'http' across engines.
    Narrow JVM pass — the pre-fingerprint cleanup stage of the curation
    pipeline."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit("  see https://example.com/p/"),
                    F.col("doc_id").cast("string"),
                    F.lit("?ref=x "),
                ),
            ).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 9 == 0, F.lit(" [12]  noted")).otherwise(
                F.lit("")
            ),
        ).alias("text"),
    )
    norm = planted.withColumn("ntext", normalize_text(F.col("text")))
    return norm.select(
        "doc_id",
        F.sha2(F.col("ntext"), 256).alias("norm_fp"),
        F.length("text").cast("long").alias("n_before"),
        F.length("ntext").cast("long").alias("n_after"),
        (F.col("doc_id") % 5 == 0).alias("had_url"),
        (~F.col("ntext").contains("http")).alias("url_gone"),
    )


@register(
    "text_heavy_hitters",
    oracle="""
    WITH toks AS (
      SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                    t -> t <> '')) AS item
      FROM documents),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM toks)
    SELECT item, CAST(count(*) AS BIGINT) AS cnt
    FROM toks, n
    GROUP BY item, n.n
    HAVING count(*) * 200 > n.n
    """,
)
def text_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT corpus heavy hitters — every token above 1/200 of total token
    mass — via the Misra–Gries sketch-then-verify two-pass
    (``operators.aggregates.frequent_items``): per-partition MG summaries
    whose union provably supersets the true heavy set, then exact counts
    for candidates only. The shuffle carries candidate keys (≤ partitions
    × 400) instead of one row per distinct token — the Zipf tail dies in
    the map stage, which is the whole point at web-token scale. The
    oracle is the naive full GROUP BY + HAVING over the same integer
    threshold; the output is exact (partitioning-invariant), so it
    hash-matches despite the sketch being partition-dependent."""
    from irio_mapreduce_spark.llm.dedup import tokens as _tokens
    from irio_mapreduce_spark.operators.aggregates import frequent_items

    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(_tokens(F.col("text"))).alias("tok"))
    return frequent_items(toks, "tok", threshold_den=200).select(
        F.col("item"), F.col("cnt")
    )


@register(
    "text_pmi_collocations",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
    pairs AS (
      SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
                    i -> struct_pack(w1 := toks[i], w2 := toks[i + 1]))) AS bg
      FROM t),
    bi AS (SELECT bg.w1 AS w1, bg.w2 AS w2, CAST(count(*) AS BIGINT) AS c_xy
           FROM pairs GROUP BY 1, 2),
    uni AS (SELECT unnest(toks) AS w FROM t),
    uc AS (SELECT w, CAST(count(*) AS BIGINT) AS c_w FROM uni GROUP BY w)
    SELECT w1 || ' ' || w2 AS bigram, c_xy,
           ux.c_w AS c_x, uy.c_w AS c_y,
           ((c_xy * 1000000) // ux.c_w * 1000000) // uy.c_w AS lift_fp
    FROM bi JOIN uc ux ON ux.w = w1 JOIN uc uy ON uy.w = w2
    WHERE c_xy >= 5
    ORDER BY lift_fp DESC, bigram
    LIMIT 20
    """,
)
def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 collocations of the document corpus by exact fixed-point
    PMI lift (min bigram count 5) — the phrase-mining / tokenizer-vocab
    signal of a text pipeline. The score is the PMI log-argument in a
    fixed integer evaluation order (log itself is a transcendental the
    cross-engine convention bans; the ordering is identical), overflow-
    safe at any corpus size because ``c_xy <= c_x`` caps each step —
    see ``llm.text.pmi_collocations`` for the shuffle budget."""
    docs = read_table(spark, sf_dir, "documents")
    return pmi_collocations(docs, "text", min_count=5, top_n=20)


@register(
    "text_url_canonicalize",
    oracle="""
    WITH planted AS (
      SELECT doc_id,
             'HTTPS://Sub.Example.COM:443/Path/Item'
               || CAST(doc_id % 7 AS VARCHAR)
               || '/?utm_source=x&id=' || CAST(doc_id % 13 AS VARCHAR)
               || '&utm_campaign=y#frag' AS url
      FROM documents),
    parts AS (
      SELECT doc_id, url,
             lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1))
               AS authority,
             regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1)
               AS path,
             regexp_extract(url, '\\?([^#]*)', 1) AS query
      FROM planted),
    canon AS (
      SELECT doc_id,
             regexp_replace(authority, ':443$|:80$', '') AS host,
             CASE WHEN path = '' THEN '/'
                  ELSE regexp_replace(path, '/$', '') END AS cpath,
             list_sort(list_filter(string_split(query, '&'),
                       p -> p <> '' AND NOT p LIKE 'utm_%')) AS kept
      FROM parts)
    SELECT doc_id,
           host || CASE WHEN cpath = '' THEN '/' ELSE cpath END
                || CASE WHEN len(kept) > 0
                        THEN '?' || array_to_string(kept, '&') ELSE '' END
             AS canon_url
    FROM canon
    """,
)
def text_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization — the web-curation key for host-level
    grouping and URL-based dedup: lowercase the authority, strip default
    ports and the fragment, collapse the trailing slash, drop tracking
    (``utm_*``) params and SORT the survivors so param order cannot
    split identical resources. Planted deterministic messy URLs (mixed
    case, :443, utm noise, fragment) exercise every rule on known
    residues. Pure regexp/array expressions in the Java∩RE2 subset both
    engines parse identically — no ``parse_url`` (DuckDB has none), no
    UDF; one narrow projection, no shuffle."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    url = F.concat(
        F.lit("HTTPS://Sub.Example.COM:443/Path/Item"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit("/?utm_source=x&id="),
        (F.col("doc_id") % 13).cast("string"),
        F.lit("&utm_campaign=y#frag"),
    )
    parts = docs.select(
        "doc_id",
        F.lower(
            F.regexp_extract(url, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1)
        ).alias("authority"),
        F.regexp_extract(
            url, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1
        ).alias("path"),
        F.regexp_extract(url, r"\?([^#]*)", 1).alias("query"),
    )
    canon = parts.select(
        "doc_id",
        F.regexp_replace("authority", r":443$|:80$", "").alias("host"),
        F.when(F.col("path") == "", F.lit("/"))
        .otherwise(F.regexp_replace("path", r"/$", ""))
        .alias("cpath"),
        F.array_sort(
            F.filter(
                F.split(F.col("query"), "&"),
                lambda p: (p != "") & ~p.startswith("utm_"),
            )
        ).alias("kept"),
    )
    return canon.select(
        "doc_id",
        F.concat(
            F.col("host"),
            F.when(F.col("cpath") == "", F.lit("/")).otherwise(F.col("cpath")),
            F.when(
                F.size("kept") > 0,
                F.concat(F.lit("?"), F.array_join("kept", "&")),
            ).otherwise(F.lit("")),
        ).alias("canon_url"),
    )


@register(
    "text_inverted_index",
    oracle=f"""
    WITH toks AS (SELECT doc_id, unnest({_DUCK_TOKS}) AS term FROM documents),
    post AS (
      SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
      FROM toks GROUP BY term, doc_id),
    sel AS (
      SELECT term, doc_id, tf,
             row_number() OVER (PARTITION BY term ORDER BY tf DESC, doc_id)
               AS rn
      FROM post),
    agg AS (
      SELECT term,
             CAST(count(*) AS BIGINT) AS df,
             CAST(sum(tf) AS BIGINT) AS tf_total,
             array_to_string(list_sort(list(doc_id))[1:5], ',')
               AS postings_head
      FROM post GROUP BY term)
    SELECT a.term, a.df, a.tf_total,
           CAST(s.doc_id AS BIGINT) AS top_doc_id,
           s.tf AS top_tf,
           a.postings_head
    FROM agg a JOIN sel s ON s.term = a.term AND s.rn = 1
    """,
)
def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed INVERTED-INDEX build + lookup — the retrieval /
    decontamination-search building block: explode tokens, aggregate the
    postings relation (term, doc_id, tf) with ONE hash shuffle keyed on
    (term, doc_id) — term frequency is combined map-side, so a hot term
    costs its distinct-doc count, never its raw occurrence count — then a
    per-term rollup (df, total tf) plus an index LOOKUP demo: the top
    document per term by (tf DESC, doc_id) rank.

    At 100 TB the ``post`` relation IS the index (kept as rows,
    bucket-writable by term for point lookups); the ``postings_head``
    column (5 smallest doc ids, comma-joined) exists to make a slice of
    the posting lists themselves oracle-visible, and the per-term window
    runs on the PRE-AGGREGATED relation (rows bounded by df, vocabulary
    partitions) — never on raw token occurrences. A positional index is
    the same plan with ``posexplode`` carrying token offsets."""
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.filter(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
                lambda t: t != "",
            )
        ).alias("term"),
    )
    post = toks.groupBy("term", "doc_id").agg(
        F.count("*").cast("long").alias("tf")
    ).persist()  # the top-doc window AND the df/tf rollup both read it; the tokenize+shuffle runs once
    top = top_k_per_group(
        post, ["term"], [F.col("tf").desc(), F.col("doc_id")], 1
    ).select(
        "term",
        F.col("doc_id").cast("long").alias("top_doc_id"),
        F.col("tf").alias("top_tf"),
    )
    agg = post.groupBy("term").agg(
        F.count("*").cast("long").alias("df"),
        F.sum("tf").cast("long").alias("tf_total"),
        F.array_join(
            F.transform(
                F.slice(F.sort_array(F.collect_list("doc_id")), 1, 5),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("postings_head"),
    )
    return agg.join(top, "term").select(
        "term", "df", "tf_total", "top_doc_id", "top_tf", "postings_head"
    )


@register(
    "text_winnowing_fingerprints",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
                         t -> t <> '') AS t
      FROM documents WHERE doc_id % 5 = 0),
    grams AS (
      SELECT doc_id,
             list_transform(generate_series(1, len(t) - 3), i ->
               t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]) AS g
      FROM toks),
    hs AS (
      SELECT doc_id,
             list_transform(g, x ->
               ('0x' || substr(md5(x), 1, 12))::BIGINT) AS h
      FROM grams WHERE len(g) >= 5),
    picks AS (
      SELECT doc_id, h,
             list_distinct(list_transform(generate_series(1, len(h) - 4),
               i -> list_min(h[i:i+4]))) AS fps
      FROM hs)
    SELECT doc_id,
           CAST(len(h) AS BIGINT) AS n_grams,
           CAST(len(fps) AS BIGINT) AS n_picks,
           CAST(list_min(fps) AS BIGINT) AS fp_min,
           CAST(list_sum(fps) AS BIGINT) AS fp_sum
    FROM picks
    """,
)
def text_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WINNOWING document fingerprints (Schleimer/Wilkerson/Aiken, the
    MOSS plagiarism-detection selection rule, the standard local
    fingerprinting scheme for near-dup detection at crawl scale): hash
    every ORDERED 4-gram, slide a 5-gram-wide window, keep each window's
    minimum hash — the guarantee is every shared substring of
    w+k-1 = 8+ tokens between two documents yields at least one SHARED
    fingerprint, so fingerprint overlap is a sound candidate filter.
    Selected minima are deduplicated by value; per-doc summary columns
    (count / min / sum of the fingerprint set) make the whole selection
    hash-checkable — one wrong window minimum anywhere moves fp_sum.

    Plan shape: pure narrow per-row array work. Ordered k-grams reuse
    the zip_with-over-shifted-slices build (see ``llm.dedup.shingles`` —
    ~15x over per-position slicing); gram hashes MATERIALIZE in their own
    projection before windowing, because nested HOF lambdas re-evaluate
    captured expressions per element (the documented minutes-at-sf0.1
    trap); window minima then slice the materialized array. No shuffle,
    no explode; 48-bit hash values keep the checksum inside BIGINT."""
    from irio_mapreduce_spark.llm.dedup import tokens

    k, w = 4, 5
    toks = (
        read_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 5 == 0)
        .select("doc_id", tokens(F.col("text")).alias("t"))
    )
    m = F.greatest(F.size("t") - (k - 1), F.lit(0))
    acc = F.slice("t", 1, m)
    for j in range(1, k):
        acc = F.zip_with(
            acc, F.slice("t", 1 + j, m), lambda a, b: F.concat_ws(" ", a, b)
        )
    grams = toks.select("doc_id", acc.alias("g")).filter(F.size("g") >= w)
    hs = grams.select(
        "doc_id",
        F.transform(
            "g",
            lambda x: F.conv(F.substring(F.md5(x), 1, 12), 16, 10).cast(
                "long"
            ),
        ).alias("h"),
    )
    picks = hs.select(
        "doc_id",
        F.size("h").cast("long").alias("n_grams"),
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size("h") - (w - 1)),
                lambda i: F.array_min(F.slice("h", i, w)),
            )
        ).alias("fps"),
    )
    return picks.select(
        "doc_id",
        "n_grams",
        F.size("fps").cast("long").alias("n_picks"),
        F.array_min("fps").cast("long").alias("fp_min"),
        F.aggregate(
            "fps", F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("fp_sum"),
    )


@register(
    "text_bm25_rational_topk",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_DUCK_TOKS}) AS tok FROM documents),
    dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
    tot AS (SELECT CAST(sum(dl) AS BIGINT) AS T,
                   CAST(count(*) AS BIGINT) AS N FROM dl),
    tf AS (
      SELECT doc_id, tok, count(*) AS tf FROM toks
      WHERE tok IN ('join', 'hash', 'scan', 'filter', 'batch')
      GROUP BY doc_id, tok),
    df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
    contrib AS (
      SELECT tf.doc_id,
             CAST((CAST(44 * t.T * tf.tf * (2 * t.N - 2 * df.df + 1)
                        AS HUGEINT) * 1000000)
                  // (CAST(20 * t.T * tf.tf + 6 * t.T + 18 * dl.dl * t.N
                           AS HUGEINT) * (2 * df.df + 1))
                  AS BIGINT) AS c
      FROM tf JOIN df USING (tok) JOIN dl USING (doc_id) CROSS JOIN tot t),
    scored AS (
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS score_fp,
             CAST(count(*) AS BIGINT) AS n_terms
      FROM contrib GROUP BY doc_id)
    SELECT doc_id, score_fp, n_terms FROM scored
    ORDER BY score_fp DESC, doc_id LIMIT 10
    """,
)
def text_bm25_rational_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 DOCUMENT SCORING in exact-rational form — the retrieval
    scorer behind every "rank corpus documents against a query" step of
    a training-data pipeline, restated without transcendentals so two
    engines agree bitwise (same stance as the tf*N/df TF-IDF entry):
    with k1 = 6/5, b = 3/4 and the Robertson idf replaced by its
    rational core (N - df + 1/2)/(df + 1/2), each matched term's BM25
    contribution algebraically reduces to the single integer fraction

        44*T*tf*(2N - 2df + 1)
      ------------------------------------  (T = corpus tokens, dl =
      (20*T*tf + 6T + 18*dl*N)*(2df + 1)     doc length, N = #docs)

    emitted as fixed-point (num * 10^6) div den — integer division both
    engines truncate identically on positives — and summed per doc.
    Query: 5 fixed terms. Ranking: top-10 by (score, doc_id) — a
    deterministic set.

    Plan shape at 100 TB: tokenize+explode -> per-doc lengths (shuffle
    on doc_id), term postings filtered to the QUERY VOCABULARY before
    any shuffle (the big win: df/tf frames carry only matching terms),
    df on the 5-row term frame, one broadcast of the 2-scalar totals,
    and a top-10 TakeOrdered — no full-corpus sort, no vocabulary-wide
    join."""
    from irio_mapreduce_spark.llm.dedup import tokens

    terms = ["join", "hash", "scan", "filter", "batch"]
    dec = "decimal(38,0)"
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
    )
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    tot = dl.agg(
        F.sum("dl").cast("long").alias("T"),
        F.count("*").cast("long").alias("N"),
    )
    tf = (
        toks.filter(F.col("tok").isin(terms))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
    )
    df = tf.groupBy("tok").agg(F.count("*").alias("df"))
    j = (
        tf.join(df, "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(tot))
    )
    num = (
        F.lit(44).cast(dec)
        * F.col("T")
        * F.col("tf")
        * (2 * F.col("N") - 2 * F.col("df") + 1)
    )
    den = (
        (
            F.lit(20).cast(dec) * F.col("T") * F.col("tf")
            + F.lit(6).cast(dec) * F.col("T")
            + F.lit(18).cast(dec) * F.col("dl") * F.col("N")
        )
        * (2 * F.col("df") + 1)
    )
    contrib = j.select(
        "doc_id",
        (num * F.lit(1000000).cast(dec)).alias("_num6"),
        den.alias("_den"),
    ).select(
        "doc_id",
        F.expr("CAST(_num6 div _den AS BIGINT)").alias("c"),
    )
    return (
        contrib.groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("score_fp"),
            F.count("*").cast("long").alias("n_terms"),
        )
        .orderBy(F.col("score_fp").desc(), F.col("doc_id").asc())
        .limit(10)
    )


def _bpe_merge_rounds(
    spark: SparkSession, sf_dir: str, rounds: int = 3
) -> tuple[DataFrame, DataFrame]:
    """Shared BPE trainer core (see ``text_bpe_train_merges`` for the
    representation and cross-engine argument): returns the post-merge
    vocabulary ``(w, s, freq)`` — the original word is carried through
    every round so appliers can join token counts back to the corpus —
    and the merge table ``(merge_round, merged_pair, pair_count)``."""
    from irio_mapreduce_spark.llm.dedup import tokens

    docs = read_table(spark, sf_dir, "documents").select("text")
    words = (
        docs.select(F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("freq"))
    )
    vocab = words.select(
        "w", F.regexp_replace("w", "(.)", "<$1>").alias("s"), "freq"
    )
    out: DataFrame | None = None
    for r in range(1, rounds + 1):
        toks = F.split(F.expr("substring(s, 2, length(s) - 2)"), "><")
        with_t = vocab.select("freq", toks.alias("t")).where(
            F.size("t") >= 2
        )
        counts = (
            with_t.select(
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.size("t") - 1),
                        lambda i: F.concat_ws(
                            " ",
                            F.element_at("t", i),
                            F.element_at("t", i + 1),
                        ),
                    )
                ).alias("pair"),
                "freq",
            )
            .groupBy("pair")
            .agg(F.sum("freq").cast("long").alias("pair_count"))
        )
        win = (
            counts.orderBy(F.col("pair_count").desc(), F.col("pair").asc())
            .limit(1)
            .select(
                F.lit(r).alias("merge_round"),
                F.col("pair").alias("merged_pair"),
                "pair_count",
            )
        )
        out = win if out is None else out.unionAll(win)
        repl = F.broadcast(
            win.select(
                F.concat(
                    F.lit("<"),
                    F.regexp_replace("merged_pair", " ", "><"),
                    F.lit(">"),
                ).alias("_search"),
                F.concat(
                    F.lit("<"),
                    F.regexp_replace("merged_pair", " ", ""),
                    F.lit(">"),
                ).alias("_repl"),
            )
        )
        vocab = vocab.crossJoin(repl).select(
            "w",
            F.replace(F.col("s"), F.col("_search"), F.col("_repl")).alias(
                "s"
            ),
            "freq",
        )
    assert out is not None
    return vocab, out


@register(
    "text_bpe_train_merges",
    oracle=f"""
    WITH words AS (
      SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
        SELECT unnest({_DUCK_TOKS}) AS w FROM documents) GROUP BY w),
    v1 AS (SELECT regexp_replace(w, '(.)', '<\\1>', 'g') AS s, freq
           FROM words),
    c1 AS (
      SELECT pair, CAST(sum(freq) AS BIGINT) AS pair_count FROM (
        SELECT unnest(list_transform(range(1, len(t)),
                                     i -> t[i] || ' ' || t[i+1])) AS pair,
               freq
        FROM (SELECT string_split(substring(s, 2, length(s) - 2), '><') AS t,
                     freq FROM v1))
      GROUP BY pair),
    w1 AS (SELECT pair, pair_count FROM c1
           ORDER BY pair_count DESC, pair LIMIT 1),
    v2 AS (SELECT replace(v1.s, '<' || replace(w1.pair, ' ', '><') || '>',
                          '<' || replace(w1.pair, ' ', '') || '>') AS s, freq
           FROM v1 CROSS JOIN w1),
    c2 AS (
      SELECT pair, CAST(sum(freq) AS BIGINT) AS pair_count FROM (
        SELECT unnest(list_transform(range(1, len(t)),
                                     i -> t[i] || ' ' || t[i+1])) AS pair,
               freq
        FROM (SELECT string_split(substring(s, 2, length(s) - 2), '><') AS t,
                     freq FROM v2))
      GROUP BY pair),
    w2 AS (SELECT pair, pair_count FROM c2
           ORDER BY pair_count DESC, pair LIMIT 1),
    v3 AS (SELECT replace(v2.s, '<' || replace(w2.pair, ' ', '><') || '>',
                          '<' || replace(w2.pair, ' ', '') || '>') AS s, freq
           FROM v2 CROSS JOIN w2),
    c3 AS (
      SELECT pair, CAST(sum(freq) AS BIGINT) AS pair_count FROM (
        SELECT unnest(list_transform(range(1, len(t)),
                                     i -> t[i] || ' ' || t[i+1])) AS pair,
               freq
        FROM (SELECT string_split(substring(s, 2, length(s) - 2), '><') AS t,
                     freq FROM v3))
      GROUP BY pair),
    w3 AS (SELECT pair, pair_count FROM c3
           ORDER BY pair_count DESC, pair LIMIT 1)
    SELECT 1 AS merge_round, pair AS merged_pair, pair_count FROM w1
    UNION ALL SELECT 2, pair, pair_count FROM w2
    UNION ALL SELECT 3, pair, pair_count FROM w3
    """,
)
def text_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE TOKENIZER TRAINING (3 merge rounds) — the step that precedes
    every token-counting/packing stage of an LLM data pipeline, run as the
    classic frequency-compressed trainer: the corpus collapses to a
    (word, freq) vocabulary ONCE, and every merge round is a pair-count
    aggregate over the vocabulary (not the corpus), exactly how
    production BPE trainers (and the reference's chained reduce stages,
    common.proto:17) bound per-round cost.

    Representation: each word becomes a wrapped token string
    ``spark -> <s><p><a><r><k>``; the winning pair ``(a, b)`` (max
    weighted count, ties by pair text — deterministic) is applied as a
    PLAIN string replace ``<a><b> -> <ab>``, whose left-to-right
    non-overlapping semantics are identical in Spark and DuckDB and match
    greedy BPE scan order (``<a><a><a>`` merges the LEFT pair only).
    Wrappers make token boundaries unambiguous (tokens are ``[a-z0-9]``),
    so no regex — and RE2 (DuckDB) lacks lookahead anyway.

    Plan shape at 100 TB: one corpus-wide word count (the only
    corpus-scale shuffle), then per round: explode adjacent pairs of the
    vocabulary frame, one vocab-sized groupBy, a 1-row broadcast of the
    winner crossed onto the vocabulary for a map-side replace. No
    collect; the 3-round lineage stays 3 plans deep over a frame the
    size of the VOCABULARY."""
    _vocab, out = _bpe_merge_rounds(spark, sf_dir, rounds=3)
    return out


@register(
    "text_bpe_apply_tokens",
    oracle=f"""
    WITH words AS (
      SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
        SELECT unnest({_DUCK_TOKS}) AS w FROM documents) GROUP BY w),
    v1 AS (SELECT w, regexp_replace(w, '(.)', '<\\1>', 'g') AS s, freq
           FROM words),
    c1 AS (
      SELECT pair, CAST(sum(freq) AS BIGINT) AS pair_count FROM (
        SELECT unnest(list_transform(range(1, len(t)),
                                     i -> t[i] || ' ' || t[i+1])) AS pair,
               freq
        FROM (SELECT string_split(substring(s, 2, length(s) - 2), '><') AS t,
                     freq FROM v1))
      GROUP BY pair),
    w1 AS (SELECT pair FROM c1 ORDER BY pair_count DESC, pair LIMIT 1),
    v2 AS (SELECT w, replace(v1.s, '<' || replace(w1.pair, ' ', '><') || '>',
                             '<' || replace(w1.pair, ' ', '') || '>') AS s,
                  freq
           FROM v1 CROSS JOIN w1),
    c2 AS (
      SELECT pair, CAST(sum(freq) AS BIGINT) AS pair_count FROM (
        SELECT unnest(list_transform(range(1, len(t)),
                                     i -> t[i] || ' ' || t[i+1])) AS pair,
               freq
        FROM (SELECT string_split(substring(s, 2, length(s) - 2), '><') AS t,
                     freq FROM v2))
      GROUP BY pair),
    w2 AS (SELECT pair FROM c2 ORDER BY pair_count DESC, pair LIMIT 1),
    v3 AS (SELECT w, replace(v2.s, '<' || replace(w2.pair, ' ', '><') || '>',
                             '<' || replace(w2.pair, ' ', '') || '>') AS s,
                  freq
           FROM v2 CROSS JOIN w2),
    c3 AS (
      SELECT pair, CAST(sum(freq) AS BIGINT) AS pair_count FROM (
        SELECT unnest(list_transform(range(1, len(t)),
                                     i -> t[i] || ' ' || t[i+1])) AS pair,
               freq
        FROM (SELECT string_split(substring(s, 2, length(s) - 2), '><') AS t,
                     freq FROM v3))
      GROUP BY pair),
    w3 AS (SELECT pair FROM c3 ORDER BY pair_count DESC, pair LIMIT 1),
    v4 AS (SELECT w, replace(v3.s, '<' || replace(w3.pair, ' ', '><') || '>',
                             '<' || replace(w3.pair, ' ', '') || '>') AS s
           FROM v3 CROSS JOIN w3),
    tokc AS (
      SELECT w,
             CAST(len(string_split(substring(s, 2, length(s) - 2), '><'))
                  AS BIGINT) AS n_tok
      FROM v4),
    sw AS (
      SELECT source, w, CAST(count(*) AS BIGINT) AS cnt FROM (
        SELECT source, unnest({_DUCK_TOKS}) AS w FROM documents)
      GROUP BY source, w)
    SELECT sw.source,
           CAST(sum(sw.cnt) AS BIGINT) AS n_words,
           CAST(sum(sw.cnt * length(sw.w)) AS BIGINT) AS char_tokens,
           CAST(sum(sw.cnt * tokc.n_tok) AS BIGINT) AS bpe_tokens
    FROM sw JOIN tokc USING (w)
    GROUP BY sw.source
    """,
)
def text_bpe_apply_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE TOKENIZER APPLICATION — the other half of the tokenizer loop
    (`text_bpe_train_merges` learns the merges; this measures the corpus
    under them): per-source token counts before (pure characters) and
    after the 3 learned merges — the compression a trained tokenizer
    buys, the number every token-budget sampler and context packer
    consumes downstream.

    Scale discipline: merges apply to the VOCABULARY (the post-merge
    token count per distinct word), never to raw text — the corpus-sized
    work is one (source, word) count, then a broadcast join of the
    |vocab|-row token-count table. This is exactly how production
    tokenizer pipelines amortize encoding: encode each distinct word
    once, multiply by frequency. The oracle replays the identical 3
    rounds carrying the word key through every merge (same chain as the
    trainer, plus the per-source rollup)."""
    from irio_mapreduce_spark.llm.dedup import tokens

    vocab, _merges = _bpe_merge_rounds(spark, sf_dir, rounds=3)
    tokc = vocab.select(
        "w",
        F.size(
            F.split(F.expr("substring(s, 2, length(s) - 2)"), "><")
        )
        .cast("long")
        .alias("n_tok"),
    )
    sw = (
        read_table(spark, sf_dir, "documents")
        .select("source", F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("source", "w")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    return (
        sw.join(F.broadcast(tokc), "w")
        .groupBy("source")
        .agg(
            F.sum("cnt").cast("long").alias("n_words"),
            F.sum(F.col("cnt") * F.length("w")).cast("long").alias(
                "char_tokens"
            ),
            F.sum(F.col("cnt") * F.col("n_tok")).cast("long").alias(
                "bpe_tokens"
            ),
        )
    )


@register(
    "text_hashing_trick_features",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z0-9]+'))
               AS tok
      FROM documents WHERE doc_id % 19 = 0),
    good AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
    hashed AS (
      SELECT doc_id,
             ('0x' || substr(md5(tok), 1, 8))::BIGINT % 64 AS dim,
             CASE WHEN ('0x' || substr(md5(tok), 9, 1))::BIGINT % 2 = 0
                  THEN 1 ELSE -1 END AS sgn
      FROM good),
    per_dim AS (
      SELECT doc_id, dim, CAST(sum(sgn) AS BIGINT) AS v
      FROM hashed GROUP BY 1, 2)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_dims,
           CAST(sum(abs(v)) AS BIGINT) AS l1,
           CAST(sum(v * v) AS BIGINT) AS l2_sq
    FROM per_dim GROUP BY doc_id
    """,
)
def text_hashing_trick_features(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """FEATURE HASHING (the "hashing trick", Weinberger et al. ICML'09) —
    the fixed-width featurizer every scale pipeline uses when a learned
    vocabulary is too big or too slow to broadcast: token → md5 → one of
    64 dimensions, with a second hash bit supplying the ±1 sign whose
    cancellation makes the estimator unbiased. No vocabulary state, no
    fit step, no shuffle beyond the (doc, dim) partial aggregate — the
    property that lets 100 TB featurization run as a single pass. Output
    pins the whole vector exactly without emitting an array column
    (driver canon bans them): occupied-dimension count, L1 and squared
    L2 norms per document, all exact integers; md5 is the shared
    cross-engine hash (the `hash_bucket` trick)."""
    toks = (
        read_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 19 == 0)
        .select(
            "doc_id",
            F.explode(
                F.split(F.lower(F.col("text")), r"[^a-z0-9]+")
            ).alias("tok"),
        )
        .filter(F.col("tok") != "")
    )
    hashed = toks.select(
        "doc_id",
        (F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long") % 64)
        .alias("dim"),
        F.when(
            F.conv(F.substring(F.md5("tok"), 9, 1), 16, 10).cast("long") % 2
            == 0,
            1,
        )
        .otherwise(-1)
        .alias("sgn"),
    )
    per_dim = hashed.groupBy("doc_id", "dim").agg(
        F.sum("sgn").cast("long").alias("v")
    )
    return per_dim.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_dims"),
        F.sum(F.abs(F.col("v"))).cast("long").alias("l1"),
        F.sum(F.col("v") * F.col("v")).cast("long").alias("l2_sq"),
    )


@register(
    "text_rake_keywords",
    oracle="""
    WITH phr AS (
      SELECT trim(p) AS phrase
      FROM documents,
           unnest(string_split_regex(
             regexp_replace(' ' || text || ' ',
                            '\\bthe\\b|\\ba\\b', '|', 'g'),
             '\\|')) AS t(p)
      WHERE trim(p) <> ''),
    pw AS (
      SELECT phrase, w,
             CAST(len(string_split_regex(phrase, ' +')) AS BIGINT)
               AS n_words
      FROM phr, unnest(string_split_regex(phrase, ' +')) AS t(w)),
    wstat AS (
      SELECT w, CAST(count(*) AS BIGINT) AS freq,
             CAST(sum(n_words) AS BIGINT) AS deg
      FROM pw GROUP BY w),
    dphr AS (
      SELECT phrase, CAST(count(*) AS BIGINT) AS n_occurrences
      FROM phr GROUP BY phrase),
    dpw AS (
      SELECT p2.phrase, t.w
      FROM (SELECT DISTINCT phrase FROM phr) p2,
           unnest(string_split_regex(p2.phrase, ' +')) AS t(w)),
    scored AS (
      SELECT d.phrase,
             CAST(count(*) AS BIGINT) AS n_words,
             CAST(sum((s.deg * 1000000) // s.freq) AS BIGINT) AS score_fp
      FROM dpw d
        JOIN wstat s ON s.w = d.w
      GROUP BY d.phrase)
    SELECT sc.phrase, sc.n_words, dp.n_occurrences, sc.score_fp
    FROM scored sc JOIN dphr dp ON dp.phrase = sc.phrase
    ORDER BY sc.score_fp DESC, sc.phrase
    LIMIT 15
    """,
)
def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE KEYWORD EXTRACTION (Rose et al. 2010) — the stopword-
    delimited phrase scorer: candidate phrases are maximal runs between
    stopwords ('the', 'a' — the corpus's function words), each word
    gets score deg(w)/freq(w) (degree = Σ lengths of phrases containing
    it — co-occurrence reach; frequency penalizes ubiquitous words),
    and a phrase scores the SUM over its words (multiplicity counted).
    The rational word score is snapped once to FIXED-POINT BIGINT
    ((deg·10⁶) div freq — the catalog's fixed-point rule), so phrase
    sums, ranking and the top-15 tiebreak (score desc, phrase) are all
    integer-exact cross-engine. The stopword splitter is an RE2-safe
    word-boundary regex (no lookarounds — DuckDB's RE2 has none) shared
    by both engines as a parameter; the scoring algebra is pinned
    against a from-scratch Python RAKE on a hand corpus in
    tests/test_properties.py.

    Scale shape: phrase explode is a flatMap in the scan stage; word
    stats are ONE map-side-combinable groupBy over exploded words; the
    phrase score join hits the vocabulary-sized stats table (broadcast)
    and the distinct-phrase grain, never re-scanning documents; top-15
    is TakeOrdered. Linear in corpus, no window over raw text."""
    stop_pat = r"\bthe\b|\ba\b"
    phr = (
        read_table(spark, sf_dir, "documents")
        .select(
            F.explode(
                F.split(
                    F.regexp_replace(
                        F.concat(F.lit(" "), F.col("text"), F.lit(" ")),
                        stop_pat,
                        "|",
                    ),
                    r"\|",
                )
            ).alias("p")
        )
        .select(F.trim(F.col("p")).alias("phrase"))
        .filter(F.col("phrase") != "")
    )
    pw = phr.select(
        "phrase",
        F.explode(F.split(F.col("phrase"), " +")).alias("w"),
        F.size(F.split(F.col("phrase"), " +")).cast("long").alias("n_words"),
    )
    wstat = pw.groupBy("w").agg(
        F.count("*").cast("long").alias("freq"),
        F.sum("n_words").cast("long").alias("deg"),
    )
    dphr = phr.groupBy("phrase").agg(
        F.count("*").cast("long").alias("n_occurrences")
    )
    dpw = (
        dphr.select("phrase")
        .select(
            "phrase", F.explode(F.split(F.col("phrase"), " +")).alias("w")
        )
    )
    scored = (
        dpw.join(F.broadcast(wstat), "w")
        .groupBy("phrase")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum(F.expr("(deg * 1000000L) DIV freq"))
            .cast("long")
            .alias("score_fp"),
        )
    )
    return (
        scored.join(dphr, "phrase")
        .select("phrase", "n_words", "n_occurrences", "score_fp")
        .orderBy(F.col("score_fp").desc(), "phrase")
        .limit(15)
    )
