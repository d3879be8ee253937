"""Multimodal-column catalog queries: opaque binary payloads with typed
metadata (SURVEY.md §2.2 LLM table; llm/multimodal.py). Two tiers:

* REAL codecs for every format the stdlib can express to spec — BMP and
  WAV (struct-level parse), PNG (full DEFLATE + filter + CRC codec), GIF
  (genuine LZW both directions) and baseline TIFF (IFD tag directory,
  both byte orders, ``multimodal_real_*``) — decode ACTUAL bytes and
  hash-match closed-form oracles;
* the JPEG/MP4-class stub path (`multimodal_decode_features`), where the
  byte->pixels step needs codec libraries absent from this container and
  the Arrow plumbing is what the entry proves.

Every codec entry synthesizes its corpus with
``llm.multimodal.synthesize_media`` (one format table states each
format's dims formula, which the oracles below mirror) and runs every
encode/decode stage through the one batch kernel
``llm.multimodal._map_rows``: Arrow-batched ``mapInPandas``, payload bytes
never visit the driver and never shuffle (a decode emits the narrow
feature row).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from irio_mapreduce_spark.io import read_table, spread_scan, table_path
from irio_mapreduce_spark.llm.multimodal import (
    decode_image_features,
    decode_real_media_features,
    decode_rle8_features,
    decode_stereo_media_features,
    documents_as_media,
    gif_frame_samples,
    real_audio_segment_features_fused,
    real_media_features_fused,
    resized_real_image_features_fused,
    synthesize_media,
    wav_energy_windows_fused,
    zip_archive_members,
)
from irio_mapreduce_spark.queries.catalog import register


def _media_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-column id frame every ``synthesize_media`` codec entry starts from,
    spread to the cluster's parallelism (io.spread_scan) BEFORE the
    encode/decode mapInPandas chain. r12 (guide §2.5 unsplittable input,
    §4): the bench parquet is one row group, so the whole Python
    encode+decode pipeline — these entries' entire cost — ran as ONE task
    on one core. Round-robin-spreading the 8-byte ids costs a no-op-sized
    exchange and buys cores× codec parallelism; at production scale the
    input splits on its own and spread_scan is a no-op."""
    return spread_scan(
        spark,
        read_table(spark, sf_dir, "documents").select(
            F.col("doc_id").alias("media_id")
        ),
        table_path(sf_dir, "documents"),
    )


_IMAGE_SUMS = ("width", "height", "sum_r", "sum_g", "sum_b")
_AUDIO_STATS = ("sample_rate", "n_samples", "sum_abs", "n_nonneg")


def _decoded(spark: SparkSession, sf_dir: str, fmt: str, cols) -> DataFrame:
    """``synthesize_media(ids, fmt)`` through ``decode_real_media_features``,
    projected to ``media_id`` + ``cols``."""
    media = synthesize_media(_media_ids(spark, sf_dir), fmt)
    return decode_real_media_features(media).select("media_id", *cols)


@register(
    "multimodal_payload_stats",
    oracle="""
    SELECT meta_kind, count(*) AS n_media,
           CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
           min(octet_length(encode(text))) AS min_bytes,
           max(octet_length(encode(text))) AS max_bytes
    FROM (SELECT 'text' AS meta_kind, text FROM documents)
    GROUP BY meta_kind
    """,
)
def multimodal_payload_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte statistics over a binary payload column, grouped by media kind.
    Metadata-only aggregations like this must never read payload bytes at
    scale — here length() over the binary column is unavoidable by the
    query's meaning, but the grouping/metadata side touches only the typed
    ``meta`` struct (parquet column pruning does the rest)."""
    media = documents_as_media(read_table(spark, sf_dir, "documents"))
    return media.groupBy(F.col("meta.kind").alias("meta_kind")).agg(
        F.count("*").alias("n_media"),
        F.sum(F.length("payload")).alias("total_bytes"),
        F.min(F.length("payload")).alias("min_bytes"),
        F.max(F.length("payload")).alias("max_bytes"),
    )


@register(
    "multimodal_decode_features",
    oracle="""
    SELECT doc_id AS media_id,
           octet_length(encode(text)) AS payload_bytes,
           8 AS n_features,
           TRUE AS feats_in_unit_range,
           3 AS channels
    FROM documents
    """,
)
def multimodal_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Arrow-batched decode/feature-extract stage over mapInPandas
    (deterministic fake decoder — real image libs absent by design, so the
    feature VALUES are engine-specific), emitted as an oracle-checkable
    per-media validation row (the r3 advice shape): payload byte length
    survives the binary->pandas->typed-struct round trip (a real per-row
    hash-checked value), the feature vector has exactly the requested
    arity, every feature lands in the fake decoder's declared [0, 1)
    range, and the channel metadata is populated. A dropped/duplicated/
    mangled row anywhere in the Arrow plumbing breaks the row-level hash
    match. The raw feature values themselves are covered by
    tests/test_llm.py round-trip tests."""
    # r12: spread the one-row-group scan so the mapInPandas decode stage
    # parallelizes (see _media_ids; no-op at production scale).
    media = documents_as_media(
        spread_scan(
            spark,
            read_table(spark, sf_dir, "documents"),
            table_path(sf_dir, "documents"),
        )
    )
    sized = media.withColumn("_pbytes", F.length("payload"))
    feats = decode_image_features(
        sized.select("media_id", "payload", "meta"), n_features=8
    )
    return (
        feats.join(sized.select("media_id", "_pbytes"), "media_id")
        .select(
            "media_id",
            F.col("_pbytes").alias("payload_bytes"),
            F.size("features").alias("n_features"),
            F.aggregate(
                "features",
                F.lit(True),
                lambda acc, x: acc & (x >= 0.0) & (x < 1.0),
            ).alias("feats_in_unit_range"),
            "channels",
        )
    )


@register(
    "multimodal_real_roundtrip",
    oracle="""
    WITH img AS (SELECT doc_id AS media_id,
                        8 + doc_id % 9 AS w, 6 + doc_id % 7 AS h
                 FROM documents WHERE doc_id % 2 = 0),
    ix AS (SELECT media_id, w, h,
                  unnest(generate_series(0, w * h - 1)) AS p
           FROM img),
    ipx AS (SELECT media_id, w, h, p % w AS x, p // w AS y FROM ix),
    isum AS (SELECT media_id,
                    CAST(max(w) AS BIGINT) AS width,
                    CAST(max(h) AS BIGINT) AS height,
                    CAST(sum((media_id*31 + y*17 + x*7) % 256) AS BIGINT) AS sum_b,
                    CAST(sum((media_id*31 + y*17 + x*7 + 13) % 256) AS BIGINT) AS sum_g,
                    CAST(sum((media_id*31 + y*17 + x*7 + 26) % 256) AS BIGINT) AS sum_r
             FROM ipx GROUP BY media_id),
    aud AS (SELECT doc_id AS media_id,
                   4000 + (doc_id % 5) * 1000 AS sr, 64 + doc_id % 129 AS n
            FROM documents WHERE doc_id % 2 = 1),
    ai AS (SELECT media_id, sr, n,
                  unnest(generate_series(0, n - 1)) AS i
           FROM aud),
    s AS (SELECT media_id, sr, n,
                 ((media_id*7919 + i*104729) % 65536) - 32768 AS v
          FROM ai),
    asum AS (SELECT media_id,
                    CAST(max(sr) AS BIGINT) AS sample_rate,
                    CAST(max(n) AS BIGINT) AS n_samples,
                    CAST(sum(abs(v)) AS BIGINT) AS sum_abs,
                    CAST(sum(CASE WHEN v >= 0 THEN 1 ELSE 0 END) AS BIGINT)
                      AS n_nonneg
             FROM s GROUP BY media_id)
    SELECT media_id, 'image' AS kind, width, height, sum_b, sum_g, sum_r,
           CAST(NULL AS BIGINT) AS sample_rate, CAST(NULL AS BIGINT) AS n_samples,
           CAST(NULL AS BIGINT) AS sum_abs, CAST(NULL AS BIGINT) AS n_nonneg
    FROM isum
    UNION ALL
    SELECT media_id, 'audio', NULL, NULL, NULL, NULL, NULL,
           sample_rate, n_samples, sum_abs, n_nonneg
    FROM asum
    """,
)
def multimodal_real_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL binary encode->decode round trip under the exact-oracle gate:
    every even doc_id becomes a genuine 24-bit BMP and every odd one a
    genuine PCM16 WAV (written to spec, distributed, bytes never on the
    driver), then ``decode_real_media_features`` parses the ACTUAL bytes
    back — struct-unpacked headers, BMP row padding and bottom-up order,
    RIFF chunk walking — and emits exact integer pixel/sample statistics.
    The oracle reproduces those statistics in closed form from the
    deterministic generators WITHOUT seeing any bytes, so the hash match
    proves encoder and decoder invert each other exactly. (PIL/av-class
    formats — JPEG/MP4 — remain the honestly-stubbed path in
    ``decode_image_features``; BMP/WAV are fully specified header+array
    formats the stdlib parses.)"""
    # r12 (guide §4): the synthesize and decode stages are FUSED into one
    # mapInPandas — same synth_bmp/synth_wav -> decode_bmp/decode_wav byte
    # path per row, but ONE JVM<->Python crossing instead of two chained
    # PythonRunner levels (which need cores×2 live workers and ship every
    # payload byte across the boundary twice).
    docs = _media_ids(spark, sf_dir)
    return real_media_features_fused(docs)


@register(
    "multimodal_real_resize",
    oracle="""
    WITH img AS (SELECT doc_id AS media_id,
                        8 + doc_id % 9 AS w, 6 + doc_id % 7 AS h
                 FROM documents WHERE doc_id % 2 = 0),
    ix AS (SELECT media_id, w, h,
                  unnest(generate_series(0, 6 * 4 - 1)) AS p
           FROM img),
    px AS (SELECT media_id,
                  ((p % 6) * w) // 6 AS sx, ((p // 6) * h) // 4 AS sy
           FROM ix)
    SELECT media_id,
           CAST(6 AS BIGINT) AS width, CAST(4 AS BIGINT) AS height,
           CAST(sum((media_id*31 + sy*17 + sx*7) % 256) AS BIGINT) AS sum_b,
           CAST(sum((media_id*31 + sy*17 + sx*7 + 13) % 256) AS BIGINT) AS sum_g,
           CAST(sum((media_id*31 + sy*17 + sx*7 + 26) % 256) AS BIGINT) AS sum_r
    FROM px GROUP BY media_id
    """,
)
def multimodal_real_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image resize chain under the exact oracle: genuine BMP bytes
    -> byte-level decode -> nearest-neighbor resample (integer source
    mapping ``src = (dst*old) div new``) -> genuine re-encode -> second
    genuine decode -> exact integer channel sums. The oracle computes the
    resampled sums in closed form from the pixel generator — matching
    hashes prove the full decode/resize/encode/decode chain is
    byte-faithful. (The codec-library resize path stays stubbed in
    ``resize_images``; this is the stdlib-parseable-format twin.)"""
    # r12 (guide §4): synthesize -> filter(image) -> resize -> decode was
    # THREE chained mapInPandas levels in one stage (cores×3 live Python
    # workers at once — the worker-spawn storm that measured 10-28 s for
    # ~1 s of codec work — and every payload crossing the boundary three
    # times). Fused to ONE mapInPandas running the staged stages' own row
    # functions (synthesize, kind filter, resize, decode) per row.
    docs = _media_ids(spark, sf_dir)
    return resized_real_image_features_fused(docs, 6, 4).select(
        "media_id", "width", "height", "sum_b", "sum_g", "sum_r"
    )


@register(
    "multimodal_real_segments",
    oracle="""
    WITH aud AS (SELECT doc_id AS media_id,
                        4000 + (doc_id % 5) * 1000 AS sr, 64 + doc_id % 129 AS n
                 FROM documents WHERE doc_id % 2 = 1),
    segp AS (SELECT media_id, sr, n, sr * 20 // 1000 AS seg_len FROM aud),
    segs AS (SELECT media_id, sr, n, seg_len,
                    unnest(generate_series(0,
                      least(4, (n + seg_len - 1) // seg_len) - 1)) AS seg_idx
             FROM segp),
    si AS (SELECT media_id, seg_idx,
                  unnest(generate_series(seg_idx * seg_len,
                    least((seg_idx + 1) * seg_len, n) - 1)) AS i
           FROM segs),
    sv AS (SELECT media_id, seg_idx,
                  ((media_id*7919 + i*104729) % 65536) - 32768 AS v
           FROM si)
    SELECT media_id, seg_idx,
           CAST(count(*) AS BIGINT) AS n_samples,
           CAST(sum(abs(v)) AS BIGINT) AS sum_abs,
           CAST(sum(CASE WHEN v >= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_nonneg
    FROM sv GROUP BY media_id, seg_idx
    """,
)
def multimodal_real_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL 1→N audio segmentation chain: genuine PCM16 WAV payloads are
    parsed, sliced into 20 ms sample windows (max 4), each window
    RE-ENCODED as a complete to-spec WAV, then each segment genuinely
    decoded back to exact integer amplitude statistics. The oracle
    reproduces per-segment sums in closed form from the sample generator
    — the flatMap analog of video frame sampling with real bytes end to
    end (codec-library formats stay on the stubbed ``sample_frames``
    path)."""
    # r12 (guide §4): synthesize -> filter(audio) -> segment -> decode was
    # three chained mapInPandas levels (cores×3 live workers, payload bytes
    # crossing the boundary three times); fused to ONE mapInPandas running
    # the staged stages' own row functions (synthesize, kind filter,
    # segment, decode) per row.
    docs = _media_ids(spark, sf_dir)
    return real_audio_segment_features_fused(docs, segment_ms=20, max_segments=4)


@register(
    "multimodal_wav_energy_windows",
    oracle="""
    WITH aud AS (SELECT doc_id AS media_id, 64 + doc_id % 129 AS n
                 FROM documents WHERE doc_id % 2 = 1),
    wins AS (SELECT media_id, n,
                    unnest(generate_series(0, (n + 31) // 32 - 1)) AS w
             FROM aud),
    si AS (SELECT media_id, w,
                  unnest(generate_series(w * 32, least((w + 1) * 32, n) - 1)) AS i
           FROM wins),
    sv AS (SELECT media_id, w,
                  ((media_id*7919 + i*104729) % 65536) - 32768 AS v
           FROM si)
    SELECT media_id, w AS win_idx,
           CAST(count(*) AS BIGINT) AS n_in_win,
           CAST(sum(v * v) AS BIGINT) AS energy,
           CAST(max(abs(v)) AS BIGINT) AS peak
    FROM sv GROUP BY media_id, w
    """,
)
def multimodal_wav_energy_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-level AUDIO FEATURE EXTRACTION under the exact-oracle gate:
    genuine PCM16 WAV payloads are byte-parsed and split into 32-sample
    frames, each frame reduced to its exact integer energy (sum of
    squared amplitudes) and peak amplitude — the windowed-energy signal a
    curation pipeline thresholds for silence/activity before keeping
    audio (the numeric twin of the 1→N segmentation entry, which
    re-encodes bytes; this one extracts features). The oracle reproduces
    every frame's energy in closed form from the deterministic sample
    generator without seeing any bytes, so the hash match proves the
    RIFF walk, int16 decode, and framing are all exact. Integer bounds:
    |s| <= 2^15, 32 samples → energy < 2^45, BIGINT-safe on both
    engines."""
    # r12 (guide §4): synthesize -> filter(audio) -> frame-energies was two
    # chained mapInPandas levels (cores×2 live workers, WAV bytes crossing
    # the boundary twice); fused to ONE mapInPandas running the staged
    # stages' own row functions (synthesize, kind filter, framing) per row.
    docs = _media_ids(spark, sf_dir)
    return wav_energy_windows_fused(docs, window_samples=32)


@register(
    "multimodal_real_png",
    oracle="""
    WITH img AS (SELECT doc_id AS media_id,
                        5 + doc_id % 8 AS w, 5 + doc_id % 6 AS h
                 FROM documents),
    ix AS (SELECT media_id, w, h,
                  unnest(generate_series(0, w * h - 1)) AS p
           FROM img),
    ipx AS (SELECT media_id, w, h, p % w AS x, p // w AS y FROM ix)
    SELECT media_id,
           CAST(max(w) AS BIGINT) AS width,
           CAST(max(h) AS BIGINT) AS height,
           CAST(sum((media_id*37 + y*19 + x*11) % 256) AS BIGINT) AS sum_r,
           CAST(sum((media_id*37 + y*19 + x*11 + 23) % 256) AS BIGINT) AS sum_g,
           CAST(sum((media_id*37 + y*19 + x*11 + 46) % 256) AS BIGINT) AS sum_b
    FROM ipx GROUP BY media_id
    """,
)
def multimodal_real_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG decode from actual bytes — PNG is DEFLATE (stdlib zlib) +
    per-row prediction filters + CRC-guarded chunks, so unlike the
    JPEG/MP4-class codecs (which remain honestly stubbed: no codec library
    here) this is a genuine full-spec software codec path: the synthesized
    payloads cycle ALL FIVE filter types (None/Sub/Up/Average/Paeth, one
    per row), and the decode stage walks CRC-verified chunks, inflates,
    and unfilters before summing channels. The closed-form oracle computes
    the same per-channel sums from the pixel generator directly, so a
    single mis-predicted byte anywhere in filter arithmetic breaks the
    per-row hash match. See ``llm.multimodal.encode_png``/``decode_png``."""
    return _decoded(spark, sf_dir, "png", _IMAGE_SUMS)


@register(
    "multimodal_real_gif",
    oracle="""
    WITH img AS (SELECT doc_id AS media_id,
                        6 + doc_id % 7 AS w, 4 + doc_id % 5 AS h
                 FROM documents),
    ix AS (SELECT media_id, w, h,
                  unnest(generate_series(0, w * h - 1)) AS p
           FROM img),
    ipx AS (SELECT media_id, w, h,
                   (media_id*41 + (p // w)*29 + (p % w)*13) % 256 AS idx
            FROM ix)
    SELECT media_id,
           CAST(max(w) AS BIGINT) AS width,
           CAST(max(h) AS BIGINT) AS height,
           CAST(sum((idx * 53) % 256) AS BIGINT) AS sum_r,
           CAST(sum((idx * 97 + 31) % 256) AS BIGINT) AS sum_g,
           CAST(sum((idx * 193 + 7) % 256) AS BIGINT) AS sum_b
    FROM ipx GROUP BY media_id
    """,
)
def multimodal_real_gif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL GIF decode from actual bytes — the second full from-first-
    principles codec after PNG: GIF's compression is LZW, implemented here
    genuinely in BOTH directions (variable-width codes with CLEAR/EOI,
    width growth at powers of two, the 12-bit table cap with mid-stream
    CLEAR, LSB-first bit packing, sub-block framing) plus the palette
    indirection of an indexed-color format. The closed-form oracle
    recomputes the per-channel sums from the pixel/palette generators, so
    one wrong LZW code or palette lookup anywhere breaks the per-row hash
    match. Only JPEG/MP4-class codecs remain honestly stubbed."""
    return _decoded(spark, sf_dir, "gif", _IMAGE_SUMS)


@register(
    "multimodal_real_tiff",
    oracle="""
    WITH img AS (SELECT doc_id AS media_id,
                        4 + doc_id % 6 AS w, 3 + doc_id % 7 AS h
                 FROM documents),
    ix AS (SELECT media_id, w, h,
                  unnest(generate_series(0, w * h - 1)) AS p
           FROM img),
    ipx AS (SELECT media_id, w, h, p % w AS x, p // w AS y FROM ix)
    SELECT media_id,
           CAST(max(w) AS BIGINT) AS width,
           CAST(max(h) AS BIGINT) AS height,
           CAST(sum((media_id*59 + y*23 + x*17) % 256) AS BIGINT) AS sum_r,
           CAST(sum((media_id*59 + y*23 + x*17 + 37) % 256) AS BIGINT) AS sum_g,
           CAST(sum((media_id*59 + y*23 + x*17 + 74) % 256) AS BIGINT) AS sum_b
    FROM ipx GROUP BY media_id
    """,
)
def multimodal_real_tiff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline-TIFF decode from actual bytes — the fourth
    from-first-principles codec, covering the TAG-DIRECTORY container
    class the other three lack: IFD walking with SHORT/LONG field types,
    inline-vs-offset value resolution, MULTI-STRIP pixel reassembly, and
    BOTH byte orders (odd ids encode big-endian MM, even ids
    little-endian II — the corpus itself exercises the endianness
    dispatch). The closed-form oracle recomputes per-channel sums from
    the pixel generator, so one wrong tag read, strip offset, or
    endianness swap breaks the per-row hash match. Only JPEG/MP4-class
    codecs remain honestly stubbed."""
    return _decoded(spark, sf_dir, "tiff", _IMAGE_SUMS)


@register(
    "multimodal_real_jpeg",
    oracle="""
    WITH img AS (SELECT doc_id AS media_id,
                        8 * (1 + doc_id % 3) AS w, 8 * (1 + doc_id % 2) AS h
                 FROM documents),
    bx AS (SELECT media_id, w, h,
                  unnest(generate_series(0, (w // 8) * (h // 8) - 1)) AS b
           FROM img),
    blk AS (SELECT media_id, w, h,
                   (media_id*31 + (b // (w // 8))*17 + (b % (w // 8))*7) % 256
                     AS v
            FROM bx)
    SELECT media_id,
           CAST(max(w) AS BIGINT) AS width,
           CAST(max(h) AS BIGINT) AS height,
           CAST(sum(64 * v) AS BIGINT) AS sum_r,
           CAST(sum(64 * v) AS BIGINT) AS sum_g,
           CAST(sum(64 * v) AS BIGINT) AS sum_b
    FROM blk GROUP BY media_id
    """,
)
def multimodal_real_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline JPEG decode from actual entropy-coded bytes — the
    full lossy-codec pipeline (8x8 DCT, quantization, zigzag, DC
    prediction, canonical T.81 Annex-K Huffman tables, byte stuffing,
    JFIF/SOF0 framing) implemented from first principles; no codec
    library. A LOSSY codec still earns an exact oracle on its exactly-
    representable class: block-constant images are DC-only (all 63 AC
    coefficients are mathematically zero, float64 residue ~1e-13 rounds
    away) and the DC quantizer of 1 keeps 8*(v-128) integer-exact through
    both directions — so the decoded per-image pixel sums equal the
    closed-form block sums a SQL engine computes from the generator, and
    ONE wrong Huffman bit, stuffed byte, or zigzag index anywhere breaks
    the hash. General images (where quantization genuinely loses data)
    are covered by bounded-error roundtrip pytest. Only MP4-class video
    decode remains stubbed."""
    return _decoded(spark, sf_dir, "jpeg", _IMAGE_SUMS)


@register(
    "multimodal_real_bmp_rle8",
    oracle="""
    WITH img AS (SELECT doc_id AS media_id,
                        6 + doc_id % 9 AS w, 5 + doc_id % 6 AS h
                 FROM documents),
    ix AS (SELECT media_id, w, h,
                  unnest(generate_series(0, w * h - 1)) AS p
           FROM img),
    px AS (SELECT media_id, w, h,
                  (media_id*13 + (p // w)*7 + ((p % w) // 4)*3) % 256 AS idx
           FROM ix)
    SELECT media_id,
           CAST(max(w) AS BIGINT) AS width,
           CAST(max(h) AS BIGINT) AS height,
           CAST(sum(idx) AS BIGINT) AS sum_idx,
           CAST(sum(idx) AS BIGINT) AS sum_b,
           CAST(sum((2 * idx) % 256) AS BIGINT) AS sum_g,
           CAST(sum((3 * idx) % 256) AS BIGINT) AS sum_r
    FROM px GROUP BY media_id
    """,
)
def multimodal_real_bmp_rle8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPRESSED BMP variant under the exact-oracle gate: genuine
    BI_RLE8 payloads (run-length escapes + 256-entry palette, written to
    the Windows BMP spec) are encoded distributed, shipped through the
    binary column, and byte-decoded back through the full escape grammar
    — encoded runs, absolute mode, end-of-line/bitmap — to exact integer
    index and palette-channel sums. The oracle reproduces every sum in
    closed form from the index generator and the closed-form palette
    (b=i, g=2i%256, r=3i%256) without seeing any bytes, so a hash match
    proves the variable-length entropy layer and the color-table
    indirection both invert exactly — the sixth from-first-principles
    codec (BMP24/WAV/PNG/GIF/TIFF/JPEG) and the second compressed one
    beyond GIF's LZW. Delta escapes stay a named honesty boundary
    (tests/test_llm.py)."""
    docs = _media_ids(spark, sf_dir)
    return decode_rle8_features(synthesize_media(docs, "rle8"))


@register(
    "multimodal_real_netpbm",
    oracle="""
    WITH img AS (
      SELECT doc_id AS media_id,
             CASE WHEN doc_id % 2 = 0 THEN 7 + doc_id % 9
                  ELSE 6 + doc_id % 8 END AS w,
             CASE WHEN doc_id % 2 = 0 THEN 5 + doc_id % 6
                  ELSE 4 + doc_id % 7 END AS h
      FROM documents),
    ix AS (SELECT media_id, w, h,
                  unnest(generate_series(0, w * h - 1)) AS p
           FROM img),
    ipx AS (SELECT media_id, w, h, p % w AS x, p // w AS y FROM ix)
    SELECT media_id,
           CAST(max(w) AS BIGINT) AS width,
           CAST(max(h) AS BIGINT) AS height,
           CAST(sum(CASE WHEN media_id % 2 = 0
                         THEN (media_id*43 + y*17 + x*7) % 256
                         ELSE (media_id*31 + y*13 + x*5) % 256 END)
                AS BIGINT) AS sum_r,
           CAST(sum(CASE WHEN media_id % 2 = 0
                         THEN (media_id*43 + y*17 + x*7 + 29) % 256
                         ELSE (media_id*31 + y*13 + x*5) % 256 END)
                AS BIGINT) AS sum_g,
           CAST(sum(CASE WHEN media_id % 2 = 0
                         THEN (media_id*43 + y*17 + x*7 + 58) % 256
                         ELSE (media_id*31 + y*13 + x*5) % 256 END)
                AS BIGINT) AS sum_b
    FROM ipx GROUP BY media_id
    """,
)
def multimodal_real_netpbm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL netpbm decode (P6 PPM + P5 PGM in one mixed table) — the
    simplest raster container is also the one whose HEADER is the real
    parser test: ASCII tokens separated by arbitrary whitespace with
    ``#`` comment lines allowed between any two tokens, then exactly one
    whitespace byte before the binary raster. The encoder deliberately
    emits a comment line, so the decoder's token scanner (not just the
    raster math) is load-bearing for the hash match. Even ids are RGB
    P6, odd ids grayscale P5 (grayscale reports its sum on all three
    channels), so ONE decode stage dispatches both subformats by magic.
    See ``llm.multimodal.encode_ppm``/``decode_ppm``."""
    return _decoded(spark, sf_dir, "netpbm", _IMAGE_SUMS)


@register(
    "multimodal_real_tga",
    oracle="""
    WITH img AS (
      SELECT doc_id AS media_id,
             6 + doc_id % 10 AS w, 5 + doc_id % 8 AS h
      FROM documents),
    ix AS (SELECT media_id, w, h,
                  unnest(generate_series(0, w * h - 1)) AS p
           FROM img),
    ipx AS (SELECT media_id, w, h, p % w AS x, p // w AS y FROM ix)
    SELECT media_id,
           CAST(max(w) AS BIGINT) AS width,
           CAST(max(h) AS BIGINT) AS height,
           CAST(sum(CASE WHEN y % 3 = 0
                         THEN (media_id*19 + y*7 + 2*11) % 256
                         ELSE (media_id*19 + y*7 + x*13 + 2*11) % 256 END)
                AS BIGINT) AS sum_r,
           CAST(sum(CASE WHEN y % 3 = 0
                         THEN (media_id*19 + y*7 + 11) % 256
                         ELSE (media_id*19 + y*7 + x*13 + 11) % 256 END)
                AS BIGINT) AS sum_g,
           CAST(sum(CASE WHEN y % 3 = 0
                         THEN (media_id*19 + y*7) % 256
                         ELSE (media_id*19 + y*7 + x*13) % 256 END)
                AS BIGINT) AS sum_b
    FROM ipx GROUP BY media_id
    """,
)
def multimodal_real_tga(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL TGA decode (raw type 2 on even ids, RLE type 10 on odd) —
    the format with NO leading magic: identity lives in the TGA 2.0
    FOOTER signature, so the decode dispatch sniffs the payload TAIL —
    the one container in the corpus that proves magic-byte dispatch
    alone is not enough. Every third scanline is constant, so the RLE
    encoder genuinely emits run packets (and the spec's
    packets-never-cross-scanlines rule is load-bearing in the decoder).
    See ``llm.multimodal.encode_tga``/``decode_tga``."""
    return _decoded(spark, sf_dir, "tga", _IMAGE_SUMS)


@register(
    "multimodal_real_ico",
    oracle="""
    WITH img AS (
      SELECT doc_id AS media_id,
             5 + doc_id % 12 AS w, 4 + doc_id % 9 AS h
      FROM documents),
    ix AS (SELECT media_id, w, h,
                  unnest(generate_series(0, w * h - 1)) AS p
           FROM img),
    ipx AS (SELECT media_id, w, h, p % w AS x, p // w AS y FROM ix)
    SELECT media_id,
           CAST(max(w) AS BIGINT) AS width,
           CAST(max(h) AS BIGINT) AS height,
           CAST(sum((media_id*23 + y*29 + x*31 + 2*41) % 256) AS BIGINT)
             AS sum_r,
           CAST(sum((media_id*23 + y*29 + x*31 + 41) % 256) AS BIGINT)
             AS sum_g,
           CAST(sum((media_id*23 + y*29 + x*31) % 256) AS BIGINT)
             AS sum_b
    FROM ipx GROUP BY media_id
    """,
)
def multimodal_real_ico(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL ICO decode — the CONTAINER format: an icon directory whose
    payload is a HEADERLESS BMP DIB with doubled height (XOR color plane
    + 1-bpp AND transparency mask). The decoder walks the directory,
    validates directory-vs-DIB dimension agreement and the doubled
    height, sums color from the XOR plane only, and rejects
    PNG-compressed entries by name — the container/codec split every
    multimodal ingest pipeline navigates. See
    ``llm.multimodal.encode_ico``/``decode_ico``."""
    return _decoded(spark, sf_dir, "ico", _IMAGE_SUMS)


@register(
    "multimodal_real_tiff_deflate",
    oracle="""
    WITH img AS (
      SELECT doc_id AS media_id,
             4 + doc_id % 6 AS w, 3 + doc_id % 7 AS h
      FROM documents),
    ix AS (SELECT media_id, w, h,
                  unnest(generate_series(0, w * h - 1)) AS p
           FROM img),
    ipx AS (SELECT media_id, w, h, p % w AS x, p // w AS y FROM ix)
    SELECT media_id,
           CAST(max(w) AS BIGINT) AS width,
           CAST(max(h) AS BIGINT) AS height,
           CAST(sum((media_id*61 + y*19 + x*29) % 256) AS BIGINT) AS sum_r,
           CAST(sum((media_id*61 + y*19 + x*29 + 43) % 256) AS BIGINT)
             AS sum_g,
           CAST(sum((media_id*61 + y*19 + x*29 + 2*43) % 256) AS BIGINT)
             AS sum_b
    FROM ipx GROUP BY media_id
    """,
)
def multimodal_real_tiff_deflate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REAL Deflate-compressed TIFF decode (compression tag 8, the
    "Adobe deflate" libtiff writes): each strip is an INDEPENDENT zlib
    stream — the property that keeps a huge TIFF strip-parallel, and
    exactly how this entry's 100 TB story differs from the uncompressed
    twin (`multimodal_real_tiff`): decompression cost rides inside the
    same mapInPandas stage, per strip, no cross-row state. Mixed byte
    orders (odd ids big-endian) through the same IFD walker; zlib is
    stdlib, so the codec is REAL, not stubbed. See
    ``llm.multimodal.encode_tiff(compression=8)``/``decode_tiff``."""
    return _decoded(spark, sf_dir, "tiff_deflate", _IMAGE_SUMS)


@register(
    "multimodal_wav_mulaw",
    oracle="""
    WITH aud AS (
      SELECT doc_id AS media_id, 48 + doc_id % 97 AS n
      FROM documents),
    ix AS (SELECT media_id, n,
                  unnest(generate_series(0, n - 1)) AS i
           FROM aud),
    dec AS (
      SELECT media_id, n,
             255 - ((media_id*7 + i*3) % 256) AS u
      FROM ix),
    mag AS (
      SELECT media_id, n, u,
             (((u % 128) % 16) * 8 + 132) * (1 << ((u % 128) // 16)) - 132
               AS m
      FROM dec)
    SELECT media_id,
           CAST(8000 AS BIGINT) AS sample_rate,
           CAST(max(n) AS BIGINT) AS n_samples,
           CAST(sum(m) AS BIGINT) AS sum_abs,
           CAST(sum(CASE WHEN u < 128 OR m = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_nonneg
    FROM mag GROUP BY media_id
    """,
)
def multimodal_wav_mulaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL G.711 mu-law WAV decode (WAVE_FORMAT_MULAW, format tag 7,
    with the ``fact`` chunk compressed WAV formats require) — telephony
    audio whose 8-bit logarithmic companding expands to linear PCM by
    PURE INTEGER bit math (complement, sign/exponent/mantissa split,
    ((mant·8+132)<<exp)−132), which is why the oracle can replay the
    expansion exactly in SQL: no float tables, no libm, no rounding
    convention to disagree on. PCM and mu-law share the RIFF magic; the
    decode dispatch discriminates on the fmt-chunk tag — the
    same-container-different-codec case the audio side of a 100 TB
    corpus hits constantly. See ``llm.multimodal.mulaw_expand``."""
    return _decoded(spark, sf_dir, "mulaw", _AUDIO_STATS)


@register(
    "multimodal_real_wav_stereo",
    oracle="""
    WITH aud AS (
      SELECT doc_id AS media_id, 40 + doc_id % 77 AS n
      FROM documents),
    ix AS (SELECT media_id, n,
                  unnest(generate_series(0, n - 1)) AS i
           FROM aud),
    ch AS (
      SELECT media_id, n,
             ((media_id*11 + i*5) % 4001) - 2000 AS l,
             ((media_id*13 + i*7) % 4001) - 2000 AS r
      FROM ix)
    SELECT media_id,
           CAST(16000 AS BIGINT) AS sample_rate,
           CAST(max(n) AS BIGINT) AS n_frames,
           CAST(sum(abs(l)) AS BIGINT) AS l_sum_abs,
           CAST(sum(abs(r)) AS BIGINT) AS r_sum_abs,
           CAST(sum(l * r) AS BIGINT) AS lr_dot
    FROM ch GROUP BY media_id
    """,
)
def multimodal_real_wav_stereo(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REAL STEREO PCM16 WAV decode — channels=2 with L/R interleaving:
    the mono parser rightly REJECTS stereo (one amplitude row would
    silently blend channels), so stereo is its own feature stage
    emitting per-channel statistics plus the inter-channel dot product —
    the stereo-correlation signal audio curation filters on (a near-mono
    file wastes half its bytes; an out-of-phase one breaks downmixing).
    All-integer features; the de-interleave (every other int16) is the
    entire decode beyond the shared RIFF walk. See
    ``llm.multimodal.encode_wav_stereo``/``decode_wav_stereo``."""
    ids = _media_ids(spark, sf_dir)
    feats = decode_stereo_media_features(synthesize_media(ids, "stereo"))
    return feats.select(
        "media_id", "sample_rate", "n_frames",
        "l_sum_abs", "r_sum_abs", "lr_dot",
    )


@register(
    "multimodal_real_png_adam7",
    oracle="""
    WITH img AS (
      SELECT doc_id AS media_id,
             3 + doc_id % 14 AS w, 2 + doc_id % 13 AS h
      FROM documents),
    ix AS (SELECT media_id, w, h,
                  unnest(generate_series(0, w * h - 1)) AS p
           FROM img),
    ipx AS (SELECT media_id, w, h, p % w AS x, p // w AS y FROM ix)
    SELECT media_id,
           CAST(max(w) AS BIGINT) AS width,
           CAST(max(h) AS BIGINT) AS height,
           CAST(sum((media_id*67 + y*31 + x*37) % 256) AS BIGINT) AS sum_r,
           CAST(sum((media_id*67 + y*31 + x*37 + 53) % 256) AS BIGINT)
             AS sum_g,
           CAST(sum((media_id*67 + y*31 + x*37 + 2*53) % 256) AS BIGINT)
             AS sum_b
    FROM ipx GROUP BY media_id
    """,
)
def multimodal_real_png_adam7(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REAL ADAM7-INTERLACED PNG decode — the progressive-raster variant
    the r6 PNG entry rejected by name, now a first-class path: seven
    independently-filtered sub-images in one zlib stream, each pass
    unfiltered with predictors reset at its own top row (the property
    that makes passes independently decodable), then deinterlace-
    scattered to (x0+i·dx, y0+j·dy). The corpus dims deliberately span
    the degenerate shapes (width/height below 8 leaves whole passes
    EMPTY — zero scanlines, not zero-width rows — the classic interlace
    decoder bug), 1-pixel axes, and >=2 full 8x8 tiles; the pass table's
    partition property is pytest-pinned. See
    ``llm.multimodal.encode_png_adam7``/``_png_unfilter_at``."""
    return _decoded(spark, sf_dir, "png_adam7", _IMAGE_SUMS)


@register(
    "multimodal_real_aiff",
    oracle="""
    WITH aud AS (
      SELECT doc_id AS media_id, 52 + doc_id % 83 AS n,
             11025 * (1 + doc_id % 3) AS sr
      FROM documents),
    ix AS (SELECT media_id, n, sr,
                  unnest(generate_series(0, n - 1)) AS i
           FROM aud),
    s AS (
      SELECT media_id, n, sr,
             ((media_id*17 + i*9) % 4001) - 2000 AS s
      FROM ix)
    SELECT media_id,
           CAST(max(sr) AS BIGINT) AS sample_rate,
           CAST(max(n) AS BIGINT) AS n_samples,
           CAST(sum(abs(s)) AS BIGINT) AS sum_abs,
           CAST(sum(CASE WHEN s >= 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_nonneg
    FROM s GROUP BY media_id
    """,
)
def multimodal_real_aiff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL AIFF decode — WAV's big-endian IFF sibling, the second audio
    CONTAINER in the corpus (mu-law was a second codec in the SAME
    container; this is the same codec in a DIFFERENT container, the
    other axis a 100 TB audio crawl varies on). The parsing challenge
    unique to AIFF is the COMM chunk's 80-bit IEEE EXTENDED-float sample
    rate — decoded by pure integer bit math (sign/exponent/64-bit
    explicit mantissa), exact for every real rate, three distinct
    encodings in-corpus (11025/22050/33075). The chunk walk exercises
    the IFF odd-size pad rule via a deliberately odd ANNO chunk in every
    payload. Dispatch sniffs FORM..AIFF magic; features are the mono-WAV
    shape, so the oracle replays the synth formula in closed form
    (``llm.multimodal.decode_aiff``)."""
    return _decoded(spark, sf_dir, "aiff", _AUDIO_STATS)


@register(
    "multimodal_zip_archive",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id,
             unnest(generate_series(0, 1 + doc_id % 3)) AS mi
      FROM documents),
    b AS (SELECT media_id, mi, 16 + (media_id + mi) % 23 AS n FROM m),
    j AS (SELECT media_id, mi, n,
                 unnest(generate_series(0, n - 1)) AS jj
          FROM b)
    SELECT media_id,
           CAST(mi AS BIGINT) AS member_idx,
           CAST(max(n) AS BIGINT) AS n_bytes,
           CAST(sum((media_id*5 + mi*11 + jj*3) % 256) AS BIGINT)
             AS byte_sum
    FROM j GROUP BY media_id, mi
    """,
)
def multimodal_zip_archive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARCHIVE INGEST — real ZIP containers (to-spec local headers,
    central directory, EOCD; stored members) EXPLODED into one row per
    member with CRC-32 verified on extract: the container shape crawl
    dumps and dataset drops actually arrive in, where row count is
    member count, not file count. The reader walks the CENTRAL directory
    (the only authoritative member list — junk between members or
    appended garbage is invisible by construction), the property that
    makes archive ingest robust to concatenated uploads. A corrupt
    member CRC fails the row loudly rather than shipping
    silent corruption downstream (``llm.multimodal.decode_zip_stored``).
    The oracle replays the member-content formula in closed form."""
    ids = _media_ids(spark, sf_dir)
    return zip_archive_members(ids)


@register(
    "multimodal_gif_frame_sample",
    oracle="""
    WITH g AS (
      SELECT doc_id AS media_id,
             6 + doc_id % 7 AS w, 5 + doc_id % 5 AS h,
             3 + doc_id % 4 AS nf
      FROM documents),
    fr AS (SELECT media_id, w, h,
                  unnest(generate_series(0, nf - 1)) AS f
           FROM g),
    kept AS (SELECT * FROM fr WHERE f % 2 = 0),
    px AS (
      SELECT media_id, f, w, h,
             (media_id*41 + f*19 + y.y*29 + x.x*13) % 256 AS i
      FROM kept,
           LATERAL (SELECT unnest(generate_series(0, w - 1)) AS x) x,
           LATERAL (SELECT unnest(generate_series(0, h - 1)) AS y) y)
    SELECT media_id,
           CAST(f AS BIGINT) AS frame_idx,
           CAST(max(w) AS BIGINT) AS width,
           CAST(max(h) AS BIGINT) AS height,
           CAST(sum((i * 53) % 256) AS BIGINT) AS sum_r,
           CAST(sum((i * 97 + 31) % 256) AS BIGINT) AS sum_g,
           CAST(sum((i * 193 + 7) % 256) AS BIGINT) AS sum_b
    FROM px GROUP BY media_id, f
    """,
)
def multimodal_gif_frame_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """VIDEO FRAME SAMPLING on a REAL multi-frame codec — animated
    GIF89a (Graphic Control Extensions, NETSCAPE loop block, per-frame
    LZW): decode every SECOND frame of each 3-6-frame animation and emit
    per-frame channel sums, one row per sampled frame — the
    frame-sample stage the brief's multimodal pipeline needs, exercised
    end-to-end on a codec the container actually has (MP4-class decode
    remains honestly stubbed behind strict=True — needs av/ffmpeg).
    Full-canvas replacement frames by construction, so sampling needs
    no disposal compositing — the docstring-level contract; frames with
    local palettes/interlace/partial canvas reject loudly
    (``llm.multimodal.decode_gif_frames``). Oracle replays pixel and
    palette formulas in closed form."""
    ids = _media_ids(spark, sf_dir)
    return gif_frame_samples(ids, sample_every=2)


@register(
    "multimodal_real_qoi",
    oracle="""
    WITH img AS (
      SELECT doc_id AS media_id,
             7 + doc_id % 9 AS w, 4 + doc_id % 7 AS h
      FROM documents),
    ix AS (SELECT media_id, w, h,
                  unnest(generate_series(0, w * h - 1)) AS p
           FROM img),
    base AS (SELECT media_id, w, h, p % 7 AS j,
                    (media_id * 31 + (p // 7) * 97) % 256 AS r0,
                    (media_id * 17 + (p // 7) * 57) % 256 AS g0,
                    (media_id * 7 + (p // 7) * 23) % 256 AS b0
             FROM ix)
    SELECT media_id,
           CAST(max(w) AS BIGINT) AS width,
           CAST(max(h) AS BIGINT) AS height,
           CAST(sum(CASE WHEN j = 4 THEN (r0 + 1) % 256
                         WHEN j = 5 THEN (r0 + 11) % 256
                         ELSE r0 END) AS BIGINT) AS sum_r,
           CAST(sum(CASE WHEN j = 5 THEN (g0 + 12) % 256
                         ELSE g0 END) AS BIGINT) AS sum_g,
           CAST(sum(CASE WHEN j = 4 THEN (b0 + 255) % 256
                         WHEN j = 5 THEN (b0 + 8) % 256
                         ELSE b0 END) AS BIGINT) AS sum_b
    FROM base GROUP BY media_id
    """,
)
def multimodal_real_qoi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL QOI decode ("Quite OK Image", the 2022 one-page public spec)
    — the op-machinery codec: a byte-aligned stream over a running
    64-slot hash index with wrapping-delta ops. The synthetic pattern is
    built so the encoder GENUINELY emits all five ops per image (7-pixel
    blocks: constant head → RUN, ±1 step → DIFF, correlated medium step
    → LUMA, base revisit → INDEX, fresh base per block → RGB), so the
    decoder's every branch — including the index maintenance that INDEX
    hits depend on — is load-bearing for the driver hash. End marker,
    pixel-count overshoot, and trailing bytes are all structural raises.
    See ``llm.multimodal.encode_qoi``/``decode_qoi``."""
    return _decoded(spark, sf_dir, "qoi", _IMAGE_SUMS)
