"""Multimodal column plumbing: opaque ``binary`` payloads + typed metadata.

Stance (per the build brief): image/audio/video payloads are opaque
``binary`` columns with a typed metadata struct; decode / feature-extract /
resize / frame-sample run as Arrow-batched pandas stages over
``mapInPandas``. Every such stage is one call of the private batch kernel
:func:`_map_rows`, which ships this package to the executors once per
SparkContext and maps each input row to 0..n output rows with a per-row
function; the stage supplies only that function and its output schema.
Synthetic media come from :func:`synthesize_media` over the format table
``_MEDIA_FORMATS``, where each format states its dims formula, mime string
and generator call once. Two tiers of decode:

* REAL codecs, written to spec from first principles, for every format
  expressible without a codec library: BMP and WAV (struct-level header /
  chunk parsing), PNG (full DEFLATE-via-zlib + prediction-filter + CRC
  codec), GIF (genuine variable-width LZW, both directions), baseline
  TIFF (IFD tag-directory walking, both byte orders, multi-strip), and
  baseline sequential JPEG (8x8 DCT + quantization + canonical Huffman
  entropy coding, both directions — see the JPEG section for how a lossy
  codec still gets an exact oracle). These decode ACTUAL bytes and back
  the ``multimodal_real_*`` exact-oracle entries.
* the MP4/video-class path (and non-baseline JPEG: progressive scans,
  subsampled chroma), where decode genuinely requires PIL/av (absent
  from this container): a clearly-marked deterministic fake keyed on the
  payload hash (default), or ``NotImplementedError`` when ``strict=True``.

Everything Spark-side — schema, partition sizing, UDF signature, Arrow
batch shape — is real and tested (tests/test_llm.py) on both tiers.

At 100 TB: payloads dominate bytes, so the media table should be written
with a small ``spark.sql.files.maxPartitionBytes`` relative to row size,
and metadata-only queries must prune the payload column — reading
(id, meta) never touches payload bytes in parquet (columnar pruning).
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from irio_mapreduce_spark.session import session_memo


def ensure_package_shipped(spark: SparkSession) -> None:
    """Make this package importable on executor Python workers.

    A driver that patches ``sys.path`` at runtime (the grading harness, a
    notebook) leaves worker processes without the path, so any closure
    that references a module global by name dies with ModuleNotFoundError
    at unpickle. Shipping the package via ``addPyFile`` is the Spark
    mechanism for exactly this — the analog of the reference's binary
    distribution + per-worker cache (``TaskProcessor.java:21,36-38``).
    Idempotent per SparkContext (a ``session_memo`` entry), so every
    session on one context shares the one shipped zip."""

    def ship() -> str:
        import irio_mapreduce_spark

        pkg_dir = os.path.dirname(os.path.abspath(irio_mapreduce_spark.__file__))
        zip_path = shutil.make_archive(
            os.path.join(tempfile.mkdtemp(prefix="imrs_py_"), "irio_mapreduce_spark"),
            "zip",
            root_dir=os.path.dirname(pkg_dir),
            base_dir="irio_mapreduce_spark",
        )
        spark.sparkContext.addPyFile(zip_path)
        return zip_path

    session_memo(("package_shipped",), ship)


def _map_rows(df: DataFrame, cols: list[str], row_fn, schema) -> DataFrame:
    """The one batch kernel behind every media stage: ``row_fn(*values)``
    maps the ``cols`` values of each input row to an iterable of 0..n
    output rows, each a dict keyed by ``schema``'s field names (extra keys
    are dropped), inside one Arrow-batched ``mapInPandas`` — payload bytes
    never visit the driver. ``schema`` is a ``StructType`` or a DDL
    string. The package is shipped first, so ``row_fn`` may reference
    this module's globals by name."""
    ensure_package_shipped(df.sparkSession)
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    names = schema.names

    def run(batches):
        import pandas as pd

        for pdf in batches:
            rows = [
                out
                for values in zip(*(pdf[c] for c in cols))
                for out in row_fn(*values)
            ]
            yield pd.DataFrame(rows, columns=names)

    return df.select(*cols).mapInPandas(run, schema=schema)


# Typed metadata carried next to every payload.
MEDIA_META_TYPE = T.StructType(
    [
        T.StructField("kind", T.StringType()),        # image | audio | video
        T.StructField("mime", T.StringType()),
        T.StructField("width", T.IntegerType()),      # images/video
        T.StructField("height", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),  # audio
        T.StructField("duration_ms", T.LongType()),   # audio/video
    ]
)

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("meta", MEDIA_META_TYPE),
    ]
)

IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("features", T.ArrayType(T.FloatType())),
    ]
)


def _fake_decode(payload: bytes, n_features: int) -> list[float]:
    """Deterministic stand-in for a real image/audio feature extractor:
    features derived from a rolling byte hash. NOT a real decoder — exists
    so the distributed plumbing is testable in this container."""
    acc, out = 2166136261, []
    for i, b in enumerate(payload):
        acc = (acc ^ b) * 16777619 % (1 << 32)
        if i % max(1, len(payload) // n_features) == 0 and len(out) < n_features:
            out.append((acc % 1000) / 1000.0)
    while len(out) < n_features:
        out.append(0.0)
    return out


def decode_image_features(
    media: DataFrame,
    n_features: int = 8,
    strict: bool = False,
) -> DataFrame:
    """Decode + feature-extract stage over ``mapInPandas``.

    ``strict=True`` raises ``NotImplementedError`` where a real decoder
    (PIL et al., absent here) would run; the default uses the deterministic
    fake so tests exercise the full Arrow round-trip. The session's
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` bounds the Arrow
    batch, so a partition of large payloads never materializes at once.
    """

    def row(mid, payload, meta):
        if strict:
            raise NotImplementedError(
                "generic real image decode requires PIL/libvips — not "
                "available; use strict=False for the deterministic fake, "
                "or decode_real_media_features for the from-first-"
                "principles BMP/PNG/GIF/TIFF/baseline-JPEG codecs"
            )
        return [
            {
                "media_id": mid,
                "width": meta["width"] if meta else None,
                "height": meta["height"] if meta else None,
                "channels": 3,
                "features": _fake_decode(bytes(payload or b""), n_features),
            }
        ]

    return _map_rows(
        media, ["media_id", "payload", "meta"], row, IMAGE_FEATURES_SCHEMA
    )


def resize_images(
    media: DataFrame, width: int, height: int, strict: bool = False
) -> DataFrame:
    """Resize stage: payload -> payload with updated meta dims. Stubbed
    decode (libraries absent): the fake keeps the payload and rewrites the
    metadata — the schema/partitioning contract is the real part."""

    def row(mid, payload, meta):
        if strict:
            raise NotImplementedError("real resize requires PIL/libvips")
        meta = {**(meta or {}), "width": width, "height": height}
        return [{"media_id": mid, "payload": payload, "meta": meta}]

    return _map_rows(media, MEDIA_SCHEMA.names, row, MEDIA_SCHEMA)


def sample_frames(
    media: DataFrame, every_ms: int, max_frames: int = 16, strict: bool = False
) -> DataFrame:
    """Video frame-sampling stage: one row in -> up to ``max_frames`` rows
    out (media_id, frame_idx, ts_ms, payload). The fake slices the payload
    bytes deterministically; a real implementation decodes with av/ffmpeg.
    The 1->N Arrow shape (a flatMap in MapReduce terms, reference R2) is
    what the stub proves."""

    def row(mid, payload, meta):
        if strict:
            raise NotImplementedError("real frame sampling requires av/ffmpeg")
        payload = bytes(payload or b"")
        dur = (meta or {}).get("duration_ms") or len(payload)  # fake: 1 ms per byte
        n = max(1, min(max_frames, int(dur // every_ms) or 1))
        step = max(1, len(payload) // n)
        return [
            {
                "media_id": mid,
                "frame_idx": i,
                "ts_ms": i * every_ms,
                "payload": payload[i * step : (i + 1) * step],
            }
            for i in range(n)
        ]

    return _map_rows(
        media,
        MEDIA_SCHEMA.names,
        row,
        "media_id long, frame_idx int, ts_ms long, payload binary",
    )


def documents_as_media(docs: DataFrame) -> DataFrame:
    """Adapter: materialize the ``documents`` table as a media table
    (payload = UTF-8 bytes) so the binary plumbing is exercisable against
    driver-provided data."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.struct(
            F.lit("text").alias("kind"),
            F.lit("text/plain").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("int").alias("sample_rate"),
            F.lit(None).cast("long").alias("duration_ms"),
        ).alias("meta"),
    )


# ---------------------------------------------------------------------------
# REAL binary decode: formats parseable without external codec libraries.
#
# PIL/av stay absent from this container, so JPEG/MP4 decode remains the
# honestly-stubbed path above. BMP (24-bit uncompressed) and WAV (PCM16)
# however are fully specified header+array formats that the stdlib parses
# exactly — so this section gives the multimodal pipeline a REAL
# bytes->pixels/samples path: payloads are genuinely encoded to spec,
# shipped through the binary column, and genuinely parsed back (struct
# unpack, row padding, chunk walking) inside the Arrow stage. The
# generators are deterministic closed-form functions of (media_id, x, y,
# channel) / (media_id, i), which is what makes the decoded features
# oracle-checkable end-to-end: a SQL engine reproduces the expected sums
# without ever seeing the bytes, so a hash match proves encoder and
# decoder invert each other exactly.
# ---------------------------------------------------------------------------

import struct
import zlib


def _bmp_pixel(seed: int, x: int, y: int, c: int) -> int:
    """Deterministic pixel byte for channel c (0=B, 1=G, 2=R)."""
    return (seed * 31 + y * 17 + x * 7 + c * 13) % 256


def synth_bmp(seed: int, width: int, height: int) -> bytes:
    """A real, to-spec 24-bit uncompressed BMP: BITMAPFILEHEADER +
    BITMAPINFOHEADER + bottom-up BGR rows padded to 4 bytes."""
    return encode_bmp(width, height, lambda x, y, c: _bmp_pixel(seed, x, y, c))


def _bmp_header(payload: bytes):
    """Validate + parse the BMP headers shared by every decoder here.
    Rejects (ValueError) anything outside the supported profile —
    bottom-up, uncompressed, 24-bit — rather than fabricating features:
    top-down files (negative biHeight), RLE compression, other depths,
    and payloads shorter than their declared pixel array."""
    if len(payload) < 54:
        raise ValueError("truncated BMP header")
    magic, _fsize, _r1, _r2, offset = struct.unpack_from("<2sIHHI", payload, 0)
    if magic != b"BM":
        raise ValueError("not a BMP payload")
    hdr_size, width, height, _planes, bpp, compression = struct.unpack_from(
        "<IiiHHI", payload, 14
    )
    if bpp != 24 or hdr_size < 40:
        raise ValueError(f"unsupported BMP variant: bpp={bpp}")
    if compression != 0:
        raise ValueError(f"unsupported BMP compression: {compression}")
    if width <= 0 or height <= 0:
        raise ValueError(f"unsupported BMP orientation/dims: {width}x{height}")
    row_size = (3 * width + 3) & ~3
    if offset + row_size * height > len(payload):
        raise ValueError("truncated BMP pixel array")
    return offset, width, height, row_size


def decode_bmp(payload: bytes) -> dict:
    """Parse a 24-bit BMP from its actual bytes: header fields, row
    padding, bottom-up order. Returns dims + exact per-channel integer
    sums."""
    offset, width, height, row_size = _bmp_header(payload)
    sums = [0, 0, 0]  # B, G, R
    for stored_row in range(height):
        base = offset + stored_row * row_size
        for x in range(width):
            px = base + 3 * x
            sums[0] += payload[px]
            sums[1] += payload[px + 1]
            sums[2] += payload[px + 2]
    return {
        "width": width,
        "height": height,
        "sum_b": sums[0],
        "sum_g": sums[1],
        "sum_r": sums[2],
    }


def _wav_sample(seed: int, i: int) -> int:
    """Deterministic PCM16 sample."""
    return ((seed * 7919 + i * 104729) % 65536) - 32768


def _wav_bytes(sample_rate: int, samples) -> bytes:
    """Encode PCM16 mono samples as a complete, to-spec WAV."""
    data = struct.pack(f"<{len(samples)}h", *samples)
    hdr = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF", 36 + len(data), b"WAVE", b"fmt ", 16, 1, 1,
        sample_rate, sample_rate * 2, 2, 16, b"data", len(data),
    )
    return hdr + data


def _wav_parse(payload: bytes):
    """Walk the RIFF chunks shared by every WAV consumer here; validate
    the profile (PCM, mono, 16-bit) and chunk sizes against the actual
    payload length so truncated files reject with ValueError instead of
    leaking struct.error. Returns (sample_rate, samples tuple)."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a WAV payload")
    pos, sample_rate, samples = 12, None, None
    while pos + 8 <= len(payload):
        cid, csize = struct.unpack_from("<4sI", payload, pos)
        if pos + 8 + csize > len(payload):
            raise ValueError("truncated WAV chunk")
        body = payload[pos + 8 : pos + 8 + csize]
        if cid == b"fmt ":
            if csize < 16:
                raise ValueError("truncated fmt chunk")
            fmt, channels, sample_rate, _br, _ba, bits = struct.unpack_from(
                "<HHIIHH", body, 0
            )
            if fmt != 1 or channels != 1 or bits != 16:
                raise ValueError("unsupported WAV variant")
        elif cid == b"data":
            samples = struct.unpack(f"<{csize // 2}h", body[: csize // 2 * 2])
        pos += 8 + csize + (csize & 1)
    if sample_rate is None or samples is None:
        raise ValueError("missing fmt/data chunk")
    return sample_rate, samples


def synth_wav(seed: int, sample_rate: int, n_samples: int) -> bytes:
    """A real, to-spec PCM16 mono WAV (RIFF/fmt /data)."""
    return _wav_bytes(sample_rate, [_wav_sample(seed, i) for i in range(n_samples)])


def _riff_format_tag(payload: bytes) -> int | None:
    """Return the fmt chunk's 2-byte format tag (1 = PCM, 7 = mu-law),
    or None when no intact fmt chunk exists. Used by the media dispatch
    to pick the decoder UP FRONT instead of try/except-chaining, so a
    corrupt PCM WAV surfaces the PCM decoder's own error rather than a
    misleading 'not a mu-law WAV' from the fallback (r10 ADVICE.md)."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    pos = 12
    while pos + 8 <= len(payload):
        cid, csize = struct.unpack_from("<4sI", payload, pos)
        if pos + 8 + csize > len(payload):
            return None
        if cid == b"fmt ":
            if csize < 2:
                return None
            return struct.unpack_from("<H", payload, pos + 8)[0]
        pos += 8 + csize + (csize & 1)
    return None


def decode_wav(payload: bytes) -> dict:
    """Parse a PCM16 mono WAV; exact integer amplitude statistics."""
    sample_rate, samples = _wav_parse(payload)
    return {
        "sample_rate": sample_rate,
        "n_samples": len(samples),
        "sum_abs": sum(abs(s) for s in samples),
        "n_nonneg": sum(1 for s in samples if s >= 0),
    }


REAL_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("sum_b", T.LongType()),
        T.StructField("sum_g", T.LongType()),
        T.StructField("sum_r", T.LongType()),
        T.StructField("sample_rate", T.LongType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("sum_abs", T.LongType()),
        T.StructField("n_nonneg", T.LongType()),
    ]
)


def _real_features(mid, payload) -> list[dict]:
    """:func:`decode_real_media_features`' row: dispatch on the payload's
    own magic bytes, decode, emit one row of exact integer features."""
    payload = bytes(payload or b"")
    row = dict.fromkeys(REAL_FEATURES_SCHEMA.names)
    row["media_id"] = int(mid)
    if payload[:2] == b"BM":
        row.update(kind="image", **decode_bmp(payload))
    elif payload[: len(_PNG_MAGIC)] == _PNG_MAGIC:
        row.update(kind="image", **decode_png(payload))
    elif payload[:6] in (b"GIF87a", b"GIF89a"):
        row.update(kind="image", **decode_gif(payload))
    elif payload[:4] in (b"II\x2a\x00", b"MM\x00\x2a"):
        # marker paired with ITS OWN byte order — II with
        # big-endian 42 (or vice versa) is not a TIFF and
        # falls through to kind='unknown' instead of a raise
        row.update(kind="image", **decode_tiff(payload))
    elif payload[:2] == b"\xff\xd8":
        row.update(kind="image", **decode_jpeg(payload))
    elif payload[:2] in (b"P6", b"P5"):
        row.update(kind="image", **decode_ppm(payload))
    elif payload[:4] == b"\x00\x00\x01\x00":
        row.update(kind="image", **decode_ico(payload))
    elif payload[:4] == b"RIFF":
        # PCM and mu-law share the RIFF magic; the fmt
        # chunk's format tag is the real discriminator —
        # parsed once so each decoder's own error surfaces
        # for its own corrupt inputs
        if _riff_format_tag(payload) == 7:
            row.update(kind="audio", **decode_wav_mulaw(payload))
        else:
            row.update(kind="audio", **decode_wav(payload))
    elif payload[:4] == b"FORM" and payload[8:12] == b"AIFF":
        row.update(kind="audio", **decode_aiff(payload))
    elif payload[:4] == _QOI_MAGIC:
        row.update(kind="image", **decode_qoi(payload))
    elif payload[-18:] == _TGA_SIGNATURE:
        # TGA has NO leading magic — the 2.0 footer signature
        # is the only sniffable identity, checked last
        row.update(kind="image", **decode_tga(payload))
    else:
        row.update(kind="unknown")
    return [row]


def decode_real_media_features(media: DataFrame) -> DataFrame:
    """REAL decode stage: dispatch on the payload's own magic bytes (not
    the metadata — the decoder trusts the bytes), parse to pixels/samples,
    emit exact integer features. Arrow-batched ``mapInPandas``; payload
    columns are pruned upstream of any query that doesn't call this."""
    return _map_rows(
        media, ["media_id", "payload"], _real_features, REAL_FEATURES_SCHEMA
    )


def encode_bmp(width: int, height: int, pixel) -> bytes:
    """Encode a to-spec 24-bit BMP from a ``pixel(x, y, c)`` accessor
    (c: 0=B, 1=G, 2=R)."""
    row_size = (3 * width + 3) & ~3
    data_size = row_size * height
    header = struct.pack("<2sIHHI", b"BM", 14 + 40 + data_size, 0, 0, 14 + 40)
    info = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, data_size, 2835, 2835, 0, 0
    )
    rows = bytearray()
    for stored_row in range(height):
        y = height - 1 - stored_row
        for x in range(width):
            rows += bytes((pixel(x, y, 0), pixel(x, y, 1), pixel(x, y, 2)))
        rows += b"\x00" * (row_size - 3 * width)
    return bytes(header + info + rows)


def decode_bmp_pixels(payload: bytes):
    """Parse a 24-bit BMP into (width, height, pixel-accessor) — the
    random-access counterpart of :func:`decode_bmp` (same validated
    profile via :func:`_bmp_header`)."""
    offset, width, height, row_size = _bmp_header(payload)

    def pixel(x: int, y: int, c: int) -> int:
        stored_row = height - 1 - y
        return payload[offset + stored_row * row_size + 3 * x + c]

    return width, height, pixel


def resize_bmp(payload: bytes, new_width: int, new_height: int) -> bytes:
    """REAL nearest-neighbor resize of a 24-bit BMP: genuine byte-level
    decode, integer source mapping ``src = (dst * old) // new`` (exact,
    engine-reproducible), genuine re-encode. No codec library involved —
    BMP is fully specified."""
    w, h, pixel = decode_bmp_pixels(payload)

    def resampled(x: int, y: int, c: int) -> int:
        return pixel((x * w) // new_width, (y * h) // new_height, c)

    return encode_bmp(new_width, new_height, resampled)


# ---------------------------------------------------------------------------
# BMP RLE8 — the COMPRESSED palettized BMP variant (biCompression=BI_RLE8,
# Windows BMP spec): 8-bit palette indexes run-length encoded as
# (count, index) pairs with 00 00 end-of-line / 00 01 end-of-bitmap escapes
# and 00 n absolute (literal) mode, word-aligned. Unlike the uncompressed
# 24-bit path above this exercises a real VARIABLE-LENGTH entropy layer +
# color-table indirection, both directions, from first principles — the
# same class as the GIF LZW and TIFF codecs. Delta escapes (00 02 dx dy,
# which leave pixels implied) raise NotImplementedError by name — the
# honesty boundary of the supported fully-covered profile.
# ---------------------------------------------------------------------------


def _rle8_index(seed: int, x: int, y: int) -> int:
    """Deterministic palette index; the x//4 quantization manufactures
    genuine runs so the encoder's RLE layer is actually exercised."""
    return (seed * 13 + y * 7 + (x // 4) * 3) % 256


def _rle8_palette_bytes() -> bytes:
    """Fixed 256-entry BGRA color table: b=i, g=2i%256, r=3i%256 — a
    closed-form palette the SQL oracle can reproduce per index."""
    out = bytearray()
    for i in range(256):
        out += bytes((i, (2 * i) % 256, (3 * i) % 256, 0))
    return bytes(out)


def encode_bmp_rle8(width: int, height: int, index_of) -> bytes:
    """Encode a to-spec RLE8 BMP from an ``index_of(x, y)`` accessor:
    bottom-up rows, maximal encoded runs (capped at 255), end-of-line
    after every row, end-of-bitmap last, 256-entry BGRA palette."""
    data = bytearray()
    for stored_row in range(height):
        y = height - 1 - stored_row
        x = 0
        while x < width:
            idx = index_of(x, y)
            run = 1
            while x + run < width and run < 255 and index_of(x + run, y) == idx:
                run += 1
            data += bytes((run, idx))
            x += run
        data += b"\x00\x00"
    data += b"\x00\x01"
    palette = _rle8_palette_bytes()
    offset = 14 + 40 + len(palette)
    header = struct.pack("<2sIHHI", b"BM", offset + len(data), 0, 0, offset)
    info = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 8, 1, len(data), 2835, 2835, 256, 0
    )
    return header + info + palette + bytes(data)


def decode_bmp_rle8(payload: bytes) -> dict:
    """Decode an RLE8 BMP from its actual bytes — header validation,
    palette read, and the full escape grammar: encoded runs, ABSOLUTE
    (literal) mode with word alignment, end-of-line, end-of-bitmap.
    Returns dims + exact integer index/channel sums. Delta escapes and
    streams leaving implied (skipped) pixels raise by name; structural
    corruption raises ValueError."""
    if len(payload) < 54:
        raise ValueError("truncated BMP header")
    magic, _fsize, _r1, _r2, offset = struct.unpack_from("<2sIHHI", payload, 0)
    if magic != b"BM":
        raise ValueError("not a BMP payload")
    hdr_size, width, height, _planes, bpp, compression = struct.unpack_from(
        "<IiiHHI", payload, 14
    )
    if bpp != 8 or compression != 1:
        raise ValueError(
            f"not an RLE8 BMP: bpp={bpp} compression={compression}"
        )
    if width <= 0 or height <= 0:
        raise ValueError(f"unsupported BMP orientation/dims: {width}x{height}")
    n_colors = struct.unpack_from("<I", payload, 46)[0] or 256
    pal_off = 14 + hdr_size
    if pal_off + 4 * n_colors > len(payload):
        raise ValueError("truncated BMP palette")
    palette = [
        tuple(payload[pal_off + 4 * i : pal_off + 4 * i + 3])
        for i in range(n_colors)
    ]
    pos, x, stored_row = offset, 0, 0
    sum_idx, sums, npx = 0, [0, 0, 0], 0
    while True:
        if pos + 2 > len(payload):
            raise ValueError("truncated RLE8 stream")
        b0, b1 = payload[pos], payload[pos + 1]
        pos += 2
        if b0 > 0:  # encoded run: b0 copies of palette[b1]
            if stored_row >= height or x + b0 > width or b1 >= len(palette):
                raise ValueError("RLE8 run overflows row/palette")
            bl, g, r = palette[b1]
            sum_idx += b0 * b1
            sums[0] += b0 * bl
            sums[1] += b0 * g
            sums[2] += b0 * r
            npx += b0
            x += b0
        elif b1 == 0:  # end of line
            x, stored_row = 0, stored_row + 1
        elif b1 == 1:  # end of bitmap
            break
        elif b1 == 2:
            raise NotImplementedError("bmp rle8: delta escapes not supported")
        else:  # absolute mode: b1 literal indexes, word-aligned
            n = b1
            if pos + n + (n & 1) > len(payload):
                raise ValueError("truncated RLE8 absolute run")
            if stored_row >= height or x + n > width:
                raise ValueError("RLE8 absolute run overflows row")
            for k in range(n):
                idx = payload[pos + k]
                if idx >= len(palette):
                    raise ValueError("RLE8 index outside palette")
                bl, g, r = palette[idx]
                sum_idx += idx
                sums[0] += bl
                sums[1] += g
                sums[2] += r
            npx += n
            x += n
            pos += n + (n & 1)
    if npx != width * height:
        raise NotImplementedError(
            "bmp rle8: streams with implied (skipped) pixels not supported"
        )
    return {
        "width": width,
        "height": height,
        "sum_idx": sum_idx,
        "sum_b": sums[0],
        "sum_g": sums[1],
        "sum_r": sums[2],
    }


def decode_rle8_features(media: DataFrame) -> DataFrame:
    """Decode RLE8 BMP payloads back to exact integer index/channel sums
    (Arrow-batched; the genuine run-length + palette walk per row)."""
    return _map_rows(
        media,
        ["media_id", "payload"],
        lambda mid, payload: [
            {"media_id": int(mid), **decode_bmp_rle8(bytes(payload))}
        ],
        "media_id long, width long, height long, sum_idx long, "
        "sum_b long, sum_g long, sum_r long",
    )


def _resized_row(mid, payload, meta, width: int, height: int) -> list[dict]:
    """:func:`resize_real_images`' row: BMP/PNG payloads resized, meta
    dims rewritten to match; other payloads pass through untouched."""
    payload, meta = bytes(payload or b""), dict(meta or {})
    # ONE magic -> resizer table drives both the payload rewrite and
    # the meta-dims rewrite, so adding a format cannot desynchronize
    # the two (the mismatch class the exact-oracle gate exists for)
    for magic, resize in ((b"BM", resize_bmp), (_PNG_MAGIC, resize_png)):
        if payload[: len(magic)] == magic:
            payload = resize(payload, width, height)
            meta["width"], meta["height"] = width, height
            break
    return [{"media_id": mid, "payload": payload, "meta": meta}]


def resize_real_images(media: DataFrame, width: int, height: int) -> DataFrame:
    """REAL resize stage over ``mapInPandas``: BMP and PNG payloads are
    decoded off their own magic bytes, nearest-neighbor resampled and
    re-encoded byte-for-byte; other rows pass through untouched (the
    stubbed path covers codec-library formats). Meta dims are rewritten
    to match the new payload."""
    return _map_rows(
        media,
        MEDIA_SCHEMA.names,
        lambda mid, payload, meta: _resized_row(mid, payload, meta, width, height),
        MEDIA_SCHEMA,
    )


def segment_wav(payload: bytes, segment_ms: int, max_segments: int) -> list:
    """REAL audio segmentation: parse the WAV (validated PCM16 mono via
    :func:`_wav_parse`), slice the sample array into ``segment_ms`` chunks
    (at most ``max_segments``), and re-encode EVERY chunk as a complete,
    to-spec WAV. Returns ``[(seg_idx, wav_bytes)]`` — the audio analog of
    video frame sampling, with genuine bytes at every step."""
    sample_rate, samples = _wav_parse(payload)
    seg_len = max(1, sample_rate * segment_ms // 1000)
    out = []
    for i in range(min(max_segments, (len(samples) + seg_len - 1) // seg_len)):
        chunk = samples[i * seg_len : (i + 1) * seg_len]
        out.append((i, _wav_bytes(sample_rate, chunk)))
    return out


def _segment_rows(mid, payload, segment_ms: int, max_segments: int) -> list[dict]:
    """:func:`segment_real_audio`' row: one re-encoded WAV row per
    segment; non-WAV payloads yield none."""
    payload = bytes(payload or b"")
    if payload[:4] != b"RIFF":
        return []
    return [
        {"media_id": int(mid), "seg_idx": idx, "payload": seg}
        for idx, seg in segment_wav(payload, segment_ms, max_segments)
    ]


def segment_real_audio(
    media: DataFrame, segment_ms: int = 20, max_segments: int = 4
) -> DataFrame:
    """1→N REAL segmentation stage over ``mapInPandas`` (the flatMap
    shape, reference R2): each WAV payload yields up to ``max_segments``
    re-encoded WAV rows. Non-WAV rows are dropped (the codec-library
    formats go through the stubbed ``sample_frames``)."""
    return _map_rows(
        media,
        ["media_id", "payload"],
        lambda mid, payload: _segment_rows(mid, payload, segment_ms, max_segments),
        "media_id long, seg_idx int, payload binary",
    )


_SEGMENT_FEATURES_DDL = (
    "media_id long, seg_idx int, n_samples long, sum_abs long, n_nonneg long"
)


def _segment_features(mid, seg_idx, payload) -> list[dict]:
    """:func:`decode_wav_segments`' row: the segment's exact integer
    amplitude statistics, ``seg_idx`` preserved."""
    return [
        {"media_id": int(mid), "seg_idx": int(seg_idx), **decode_wav(bytes(payload))}
    ]


def decode_wav_segments(segs: DataFrame) -> DataFrame:
    """Decode a (media_id, seg_idx, payload) segment table: each segment's
    REAL WAV bytes parsed back to exact integer amplitude statistics,
    seg_idx preserved through the Arrow stage."""
    return _map_rows(
        segs,
        ["media_id", "seg_idx", "payload"],
        _segment_features,
        _SEGMENT_FEATURES_DDL,
    )


_ENERGY_DDL = "media_id long, win_idx int, n_in_win long, energy long, peak long"


def _energy_rows(mid, payload, window_samples: int) -> list[dict]:
    """:func:`wav_energy_windows`' row: one exact integer energy/peak row
    per ``window_samples`` frame; non-WAV payloads yield none."""
    import numpy as np

    payload = bytes(payload or b"")
    if payload[:4] != b"RIFF":
        return []
    _sr, samples = _wav_parse(payload)
    v = np.asarray(samples, dtype=np.int64)
    rows = []
    for w in range(0, (len(v) + window_samples - 1) // window_samples):
        frame = v[w * window_samples : (w + 1) * window_samples]
        rows.append(
            {
                "media_id": int(mid),
                "win_idx": w,
                "n_in_win": int(frame.size),
                "energy": int((frame * frame).sum()),
                "peak": int(np.abs(frame).max()),
            }
        )
    return rows


def wav_energy_windows(media: DataFrame, window_samples: int = 32) -> DataFrame:
    """Frame-level AUDIO FEATURE EXTRACTION over ``mapInPandas``: each
    PCM16 WAV payload is parsed (validated RIFF walk, ``_wav_parse``) and
    its sample array split into fixed ``window_samples`` frames; per
    frame the EXACT integer energy (sum of squared amplitudes) and peak
    |amplitude| are emitted — the windowed-energy/VAD-precursor feature a
    training pipeline computes before keeping or dropping audio. All
    integer: |s| <= 2^15 so a frame's energy < 2^15·2^30 = 2^45, exact in
    BIGINT on any engine. 1→N row shape (reference R2 flatMap,
    `worker/util/MapProcessor.java:69-79` one-record-in/many-out);
    non-WAV payloads are dropped. Arrow-batched, payload bytes never on
    the driver."""
    return _map_rows(
        media,
        ["media_id", "payload"],
        lambda mid, payload: _energy_rows(mid, payload, window_samples),
        _ENERGY_DDL,
    )


# ---------------------------------------------------------------------------
# FUSED single-crossing pipelines (optimization round 12, guide §4).
#
# The composable stages above (synthesize -> [resize|segment] -> decode) are
# each their own ``mapInPandas``; Spark fuses chained Python operators into
# ONE stage with K PythonRunner LEVELS per task, so a 3-stage chain over a
# 32-task input wants 96 live Python workers at once and ships every payload
# byte JVM->Python->JVM K times. The fused forms below compose the staged
# forms' OWN row functions (``_media_row`` -> ``_resized_row`` /
# ``_segment_rows`` -> ``_real_features`` / ``_segment_features`` /
# ``_energy_rows``) inside ONE batch loop: one JVM↔Python crossing, cores×1
# workers, and the intermediate payload bytes never cross a process boundary
# at all. The staged forms remain the building blocks for pipelines that
# genuinely materialize the intermediate media table.
# ---------------------------------------------------------------------------


def _real_media_of_kind(mid, kind: str) -> list[dict]:
    """``synthesize_media(ids, "real")``'s row for ``mid`` when its
    ``meta.kind`` is ``kind`` — the staged chains' kind filter, read from
    the format table before any payload is built — else none."""
    mid = int(mid)
    return [_media_row("real", mid)] if _format_of("real", mid)[0] == kind else []


def real_media_features_fused(ids: DataFrame, id_col: str = "media_id") -> DataFrame:
    """``decode_real_media_features(synthesize_media(ids, "real"))`` in ONE
    mapInPandas."""
    return _map_rows(
        ids,
        [id_col],
        lambda mid: _real_features(mid, _media_row("real", int(mid))["payload"]),
        REAL_FEATURES_SCHEMA,
    )


def resized_real_image_features_fused(
    ids: DataFrame, width: int, height: int, id_col: str = "media_id"
) -> DataFrame:
    """The ``multimodal_real_resize`` chain (synthesize -> filter images ->
    resize -> decode) in ONE mapInPandas."""
    return _map_rows(
        ids,
        [id_col],
        lambda mid: [
            f
            for m in _real_media_of_kind(mid, "image")
            for r in _resized_row(
                m["media_id"], m["payload"], m["meta"], width, height
            )
            for f in _real_features(r["media_id"], r["payload"])
        ],
        REAL_FEATURES_SCHEMA,
    )


def real_audio_segment_features_fused(
    ids: DataFrame,
    segment_ms: int = 20,
    max_segments: int = 4,
    id_col: str = "media_id",
) -> DataFrame:
    """The ``multimodal_real_segments`` chain (synthesize -> filter audio ->
    segment -> decode segments) in ONE mapInPandas, one output row per
    re-encoded segment (the flatMap shape preserved)."""
    return _map_rows(
        ids,
        [id_col],
        lambda mid: [
            f
            for m in _real_media_of_kind(mid, "audio")
            for s in _segment_rows(m["media_id"], m["payload"], segment_ms, max_segments)
            for f in _segment_features(s["media_id"], s["seg_idx"], s["payload"])
        ],
        _SEGMENT_FEATURES_DDL,
    )


def wav_energy_windows_fused(
    ids: DataFrame, window_samples: int = 32, id_col: str = "media_id"
) -> DataFrame:
    """The ``multimodal_wav_energy_windows`` chain (synthesize -> filter
    audio -> frame energies) in ONE mapInPandas, one output row per
    frame."""
    return _map_rows(
        ids,
        [id_col],
        lambda mid: [
            w
            for m in _real_media_of_kind(mid, "audio")
            for w in _energy_rows(m["media_id"], m["payload"], window_samples)
        ],
        _ENERGY_DDL,
    )


# ---------------------------------------------------------------------------
# REAL PNG: full encoder/decoder from first principles over stdlib zlib.
# PNG (ISO/IEC 15948) is DEFLATE + per-row prediction filters + CRC-guarded
# chunks — all stdlib-expressible, so unlike JPEG/MP4 (which stay honestly
# stubbed: no codec library in this environment) the PNG path is a genuine
# byte-level codec: the encoder emits every filter type (cycling None/Sub/
# Up/Average/Paeth per row) and the decoder verifies chunk CRCs, inflates,
# and unfilters — so a roundtrip exercises the whole spec surface.
# ---------------------------------------------------------------------------

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def _paeth(a: int, b: int, c: int) -> int:
    """The Paeth predictor (PNG spec §9.4): nearest of left/up/up-left to
    the linear estimate a + b - c, ties resolved left, up, up-left."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import zlib

    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def encode_png(width: int, height: int, pixel) -> bytes:
    """Encode a to-spec 8-bit RGB (color type 2) PNG from a
    ``pixel(x, y, c)`` accessor (c: 0=R, 1=G, 2=B). Row ``y`` uses filter
    type ``y % 5``, so every decoder filter path is exercised by any image
    at least 5 rows tall."""
    import zlib

    bpp = 3
    stride = width * bpp
    prev = bytes(stride)
    raw = bytearray()
    for y in range(height):
        recon = bytes(pixel(x, y, c) for x in range(width) for c in range(bpp))
        ftype = y % 5
        filt = bytearray(stride)
        for i in range(stride):
            a = recon[i - bpp] if i >= bpp else 0
            b = prev[i]
            c = prev[i - bpp] if i >= bpp else 0
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = a
            elif ftype == 2:
                pred = b
            elif ftype == 3:
                pred = (a + b) // 2
            else:
                pred = _paeth(a, b, c)
            filt[i] = (recon[i] - pred) & 0xFF
        raw.append(ftype)
        raw += filt
        prev = recon
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    return (
        _PNG_MAGIC
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )


def decode_png_pixels(payload: bytes):
    """REAL PNG decode: signature check, CRC-verified chunk walk, IHDR
    profile validation (8-bit RGB; interlace 0 or 1 — anything else
    raises ValueError rather than fabricating pixels), multi-IDAT
    inflate, per-row UNFILTERING of all five filter types, and Adam7
    deinterlacing when the IHDR says so. Returns
    (width, height, reconstructed rows as list[bytes])."""
    import zlib

    if payload[: len(_PNG_MAGIC)] != _PNG_MAGIC:
        raise ValueError("not a PNG payload")
    pos, ihdr, idat, saw_iend = len(_PNG_MAGIC), None, bytearray(), False
    while pos + 12 <= len(payload):
        (clen,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4 : pos + 8]
        if pos + 12 + clen > len(payload):
            raise ValueError("truncated PNG chunk")
        data = payload[pos + 8 : pos + 8 + clen]
        (crc,) = struct.unpack_from(">I", payload, pos + 8 + clen)
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError("PNG chunk CRC mismatch")
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            saw_iend = True
            break
        pos += 12 + clen
    if not saw_iend:
        raise ValueError("truncated PNG stream (missing IEND)")
    if ihdr is None or not idat:
        raise ValueError("missing IHDR/IDAT chunk")
    width, height, depth, ctype_i, comp, filt, interlace = ihdr
    if (depth, ctype_i, comp, filt) != (8, 2, 0, 0) or interlace not in (
        0,
        1,
    ):
        raise ValueError(
            f"unsupported PNG variant: depth={depth} color={ctype_i} "
            f"interlace={interlace}"
        )
    if width <= 0 or height <= 0:
        raise ValueError(f"unsupported PNG dims: {width}x{height}")
    raw = zlib.decompress(bytes(idat))
    if interlace == 0:
        rows, off = _png_unfilter_at(raw, 0, width, height)
        if off != len(raw):
            raise ValueError("PNG pixel data does not match declared dims")
        return width, height, rows
    # Adam7: seven independently-filtered sub-images concatenated in ONE
    # zlib stream; empty passes contribute no scanlines at all. Each
    # pass's reconstructed pixels scatter to their (x0 + i*dx, y0 + j*dy)
    # grid positions.
    full = [bytearray(width * 3) for _ in range(height)]
    off = 0
    for x0, y0, dx, dy in _ADAM7_PASSES:
        wp = (width - x0 + dx - 1) // dx
        hp = (height - y0 + dy - 1) // dy
        if wp <= 0 or hp <= 0:
            continue
        rows_p, off = _png_unfilter_at(raw, off, wp, hp)
        for j, row in enumerate(rows_p):
            y = y0 + j * dy
            for i in range(wp):
                x = x0 + i * dx
                full[y][3 * x : 3 * x + 3] = row[3 * i : 3 * i + 3]
    if off != len(raw):
        raise ValueError("PNG pixel data does not match declared dims")
    return width, height, [bytes(r) for r in full]


# Adam7 pass origins/steps (x0, y0, dx, dy), spec order — together the
# seven passes PARTITION the pixel grid (roundtrip-tested across dims
# with empty passes, 1x1, and >=16 in each axis).
_ADAM7_PASSES = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _png_unfilter_at(raw: bytes, off: int, width: int, height: int):
    """Unfilter one (sub-)image of ``height`` scanlines starting at
    ``off`` in the inflated stream; returns (rows, offset_after). The
    five filter predictors reset per sub-image (prev row = zeros), which
    is exactly why Adam7 passes can be decoded independently."""
    bpp = 3
    stride = width * bpp
    need = height * (1 + stride)
    if off + need > len(raw):
        raise ValueError("PNG pixel data does not match declared dims")
    rows: list[bytes] = []
    prev = bytes(stride)
    for y in range(height):
        base = off + y * (1 + stride)
        ftype = raw[base]
        if ftype > 4:
            raise ValueError(f"invalid PNG filter type {ftype}")
        line = raw[base + 1 : base + 1 + stride]
        recon = bytearray(stride)
        for i in range(stride):
            a = recon[i - bpp] if i >= bpp else 0
            b = prev[i]
            c = prev[i - bpp] if i >= bpp else 0
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = a
            elif ftype == 2:
                pred = b
            elif ftype == 3:
                pred = (a + b) // 2
            else:
                pred = _paeth(a, b, c)
            recon[i] = (line[i] + pred) & 0xFF
        prev = bytes(recon)
        rows.append(prev)
    return rows, off + need


def decode_png(payload: bytes) -> dict:
    """Parse an 8-bit RGB PNG from its actual bytes; exact per-channel
    integer sums in the BGR-named feature slots shared with the BMP path
    (``sum_b``/``sum_g``/``sum_r`` are CHANNEL sums regardless of the
    container's storage order)."""
    width, height, rows = decode_png_pixels(payload)
    sums = [0, 0, 0]  # R, G, B in storage order
    for row in rows:
        for i in range(0, len(row), 3):
            sums[0] += row[i]
            sums[1] += row[i + 1]
            sums[2] += row[i + 2]
    return {
        "width": width,
        "height": height,
        "sum_r": sums[0],
        "sum_g": sums[1],
        "sum_b": sums[2],
    }


def _png_pixel(seed: int, x: int, y: int, c: int) -> int:
    """Deterministic pixel byte for channel c (0=R, 1=G, 2=B) — a distinct
    formula from the BMP generator so a cross-format mixup cannot cancel
    out in the oracle sums."""
    return (seed * 37 + y * 19 + x * 11 + c * 23) % 256


def synth_png(seed: int, width: int, height: int) -> bytes:
    """A real, to-spec 8-bit RGB PNG (all five row filters exercised)."""
    return encode_png(width, height, lambda x, y, c: _png_pixel(seed, x, y, c))


def resize_png(payload: bytes, new_width: int, new_height: int) -> bytes:
    """REAL nearest-neighbor resize of an 8-bit RGB PNG: genuine decode
    (CRC walk + inflate + unfilter), integer source mapping
    ``src = (dst * old) // new`` (exact, engine-reproducible), genuine
    re-encode through all five row filters."""
    w, h, rows = decode_png_pixels(payload)

    def resampled(x: int, y: int, c: int) -> int:
        return rows[(y * h) // new_height][3 * ((x * w) // new_width) + c]

    return encode_png(new_width, new_height, resampled)


# ---------------------------------------------------------------------------
# REAL GIF87a: full encoder/decoder from first principles — genuine LZW with
# variable-width codes (clear/EOI, width growth at 2^n), LSB-first bit
# packing, sub-block framing, and a 256-entry global color table. Like PNG
# (DEFLATE via stdlib zlib), GIF's compression is fully expressible without
# a codec library, so this is a second REAL byte-level decode path; only
# JPEG/MP4-class codecs remain honestly stubbed.
# ---------------------------------------------------------------------------


def _gif_lzw_encode(indices, min_code_size: int) -> bytes:
    """Real GIF LZW: dictionary-building compression with CLEAR emitted
    when the table fills (spec max code width 12).

    Code width is tracked by SIMULATING THE DECODER'S table exactly —
    the decoder appends an entry for every data code AFTER the first
    since CLEAR (one code later than the encoder's own assignments, the
    lag that creates the KwKwK case) and widens when its table size hits
    2^width; width decisions keyed off the encoder's table instead
    desynchronize precisely at the final flush+EOI when the boundary
    lands byte-aligned (found by review at min code sizes 2-4)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out_bits: list[tuple[int, int]] = []  # (code, width)

    def fresh():
        # encoder dict; decoder-sim (table size, width, any-code-seen)
        return (
            {bytes([i]): i for i in range(clear)},
            eoi + 1,
            [eoi + 1, min_code_size + 1, False],
        )

    def emit_data(code: int, sim: list) -> None:
        out_bits.append((code, sim[1]))
        if sim[2]:  # decoder appends an entry for every code after the first
            sim[0] += 1
        else:
            sim[2] = True
        if sim[0] == (1 << sim[1]) and sim[1] < 12:
            sim[1] += 1

    table, next_code, sim = fresh()
    out_bits.append((clear, sim[1]))
    prefix = b""
    for idx in indices:
        probe = prefix + bytes([idx])
        if probe in table:
            prefix = probe
            continue
        emit_data(table[prefix], sim)
        table[probe] = next_code
        next_code += 1
        if next_code == (1 << 12):
            out_bits.append((clear, sim[1]))
            table, next_code, sim = fresh()
        prefix = bytes([idx])
    if prefix:
        emit_data(table[prefix], sim)
    out_bits.append((eoi, sim[1]))
    # LSB-first bit packing
    acc = nbits = 0
    data = bytearray()
    for code, w in out_bits:
        acc |= code << nbits
        nbits += w
        while nbits >= 8:
            data.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        data.append(acc & 0xFF)
    return bytes(data)


def _gif_lzw_decode(data: bytes, min_code_size: int, n_pixels: int) -> bytes:
    """Real GIF LZW decode: variable-width codes read LSB-first, table
    rebuilt on CLEAR, the KwKwK case handled, EOI honored."""
    clear = 1 << min_code_size
    eoi = clear + 1
    pos = acc = nbits = 0

    def read(width: int):
        nonlocal pos, acc, nbits
        while nbits < width:
            if pos >= len(data):
                return None
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        return code

    out = bytearray()
    table: list[bytes] = []
    width = min_code_size + 1
    prev: bytes | None = None
    while True:
        code = read(width)
        if code is None:
            raise ValueError("truncated GIF LZW stream")
        if code == clear:
            table = [bytes([i]) for i in range(clear)] + [b"", b""]
            width = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            break
        if not table or code > len(table):
            raise ValueError("corrupt GIF LZW code")
        if prev is None:
            if code >= len(table):
                raise ValueError("corrupt GIF LZW code")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):  # the KwKwK case
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError("corrupt GIF LZW code")
        out += entry
        prev = entry
        if len(table) == (1 << width) and width < 12:
            width += 1
        if len(out) > n_pixels:
            raise ValueError("GIF pixel overrun vs declared dims")
    if len(out) != n_pixels:
        raise ValueError("GIF pixel underrun vs declared dims")
    return bytes(out)


def _gif_palette() -> list[tuple[int, int, int]]:
    """Deterministic 256-entry RGB palette (distinct per index so index
    errors cannot cancel in channel sums)."""
    return [((i * 53) % 256, (i * 97 + 31) % 256, (i * 193 + 7) % 256) for i in range(256)]


def encode_gif(width: int, height: int, index_of) -> bytes:
    """Encode a to-spec GIF87a: logical screen descriptor, 256-entry
    global color table, image descriptor, REAL LZW-compressed indices in
    sub-block framing, trailer."""
    pal = _gif_palette()
    hdr = b"GIF87a" + struct.pack("<HHBBB", width, height, 0xF7, 0, 0)
    gct = b"".join(bytes(c) for c in pal)
    img_desc = b"\x2c" + struct.pack("<HHHHB", 0, 0, width, height, 0)
    indices = [index_of(x, y) & 0xFF for y in range(height) for x in range(width)]
    lzw = _gif_lzw_encode(indices, 8)
    blocks = bytearray([8])  # LZW minimum code size
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        blocks.append(len(chunk))
        blocks += chunk
    blocks.append(0)  # block terminator
    return hdr + gct + img_desc + bytes(blocks) + b"\x3b"


def decode_gif(payload: bytes) -> dict:
    """Parse a GIF87a/89a from its actual bytes: header, screen
    descriptor, global color table, image descriptor, sub-block
    reassembly, REAL LZW decode, palette mapping to exact per-channel
    sums. Rejects (ValueError) interlaced images, local color tables and
    truncated streams rather than fabricating pixels."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    if len(payload) < 13:
        raise ValueError("truncated GIF screen descriptor")
    sw, sh, flags, _bg, _ar = struct.unpack_from("<HHBBB", payload, 6)
    if not flags & 0x80:
        raise ValueError("unsupported GIF: no global color table")
    gct_n = 2 << (flags & 0x07)
    pos = 13
    if pos + 3 * gct_n > len(payload):
        raise ValueError("truncated GIF color table")
    pal = [tuple(payload[pos + 3 * i : pos + 3 * i + 3]) for i in range(gct_n)]
    pos += 3 * gct_n
    # skip GIF89a extension blocks
    while pos < len(payload) and payload[pos] == 0x21:
        pos += 2
        while pos < len(payload) and payload[pos] != 0:
            pos += 1 + payload[pos]
        pos += 1
    if pos >= len(payload) or payload[pos] != 0x2C:
        raise ValueError("missing GIF image descriptor")
    _x, _y, iw, ih, iflags = struct.unpack_from("<HHHHB", payload, pos + 1)
    if iflags & 0xC0:
        raise ValueError("unsupported GIF: local color table / interlace")
    pos += 10
    min_code = payload[pos]
    pos += 1
    lzw = bytearray()
    while True:
        if pos >= len(payload):
            raise ValueError("truncated GIF data stream")
        n = payload[pos]
        pos += 1
        if n == 0:
            break
        lzw += payload[pos : pos + n]
        if len(payload[pos : pos + n]) != n:
            raise ValueError("truncated GIF sub-block")
        pos += n
    idx = _gif_lzw_decode(bytes(lzw), min_code, iw * ih)
    sums = [0, 0, 0]
    for i in idx:
        if i >= len(pal):
            raise ValueError("GIF pixel index outside the color table")
        r, g, b = pal[i]
        sums[0] += r
        sums[1] += g
        sums[2] += b
    return {
        "width": iw,
        "height": ih,
        "sum_r": sums[0],
        "sum_g": sums[1],
        "sum_b": sums[2],
    }


def _gif_index(seed: int, x: int, y: int) -> int:
    """Deterministic palette index per pixel (full 0..255 range so the
    LZW code width grows through every stage)."""
    return (seed * 41 + y * 29 + x * 13) % 256


def synth_gif(seed: int, width: int, height: int) -> bytes:
    """A real, to-spec GIF87a exercising genuine LZW both directions."""
    return encode_gif(width, height, lambda x, y: _gif_index(seed, x, y))


# ---------------------------------------------------------------------------
# REAL baseline TIFF: full encoder/decoder from first principles — the
# TAG-DIRECTORY container class (IFD walking, SHORT/LONG field types,
# inline-vs-offset values, multi-strip pixel data, BOTH byte orders),
# complementing BMP (raw array), PNG (DEFLATE+filters) and GIF (LZW).
# Baseline profile: uncompressed 8-bit RGB, chunky, one IFD.
# ---------------------------------------------------------------------------

_TIFF_TYPE_SIZES = {3: 2, 4: 4}  # SHORT, LONG


def encode_tiff(
    width: int,
    height: int,
    pixel,
    byte_order: str = "<",
    rows_per_strip: int = 2,
    compression: int = 1,
) -> bytes:
    """Encode a to-spec baseline TIFF from a ``pixel(x, y, c)`` accessor
    (c: 0=R, 1=G, 2=B): header, MULTI-STRIP RGB data, then
    one IFD whose entries are tag-sorted per spec; BitsPerSample and the
    strip arrays live at offsets (exercising the decoder's
    inline-vs-offset logic), small scalars inline. ``byte_order`` is
    ``'<'`` (II, little-endian) or ``'>'`` (MM, big-endian).
    ``compression``: 1 = none, 8 = Deflate/zlib ("Adobe deflate", the
    variant libtiff writes) — each strip zlib-compressed independently,
    exactly what the spec requires (strips stay independently seekable,
    the property that keeps huge TIFFs splittable)."""
    bo = byte_order
    magic = b"II" if bo == "<" else b"MM"
    if compression not in (1, 8):
        raise ValueError(f"unsupported TIFF compression: {compression}")
    n_strips = (height + rows_per_strip - 1) // rows_per_strip
    strips = []
    for s in range(n_strips):
        rows = range(
            s * rows_per_strip, min((s + 1) * rows_per_strip, height)
        )
        raw = bytes(
            pixel(x, y, c) for y in rows for x in range(width) for c in range(3)
        )
        strips.append(zlib.compress(raw, 6) if compression == 8 else raw)
    # the spec requires value offsets and the IFD to be WORD-ALIGNED
    # ("the Value Offset must be an even number"; IFDs "must begin on a
    # word boundary") — pad after any odd-length strip
    pos = 8
    strip_offsets = []
    pads = []
    for s in strips:
        strip_offsets.append(pos)
        pos += len(s)
        pads.append(pos % 2)
        pos += pos % 2
    bps_off = pos
    pos += 6  # 3 x SHORT BitsPerSample
    so_off, sc_off = pos, pos + 4 * n_strips
    pos += 8 * n_strips
    ifd_off = pos

    def entry(tag: int, typ: int, count: int, value: int) -> bytes:
        # inline values pack into the low bytes of the 4-byte field
        if typ == 3 and count == 1:
            val = struct.pack(f"{bo}HH", value, 0)
        else:
            val = struct.pack(f"{bo}I", value)
        return struct.pack(f"{bo}HHI", tag, typ, count) + val

    entries = [
        entry(256, 4, 1, width),              # ImageWidth
        entry(257, 4, 1, height),             # ImageLength
        entry(258, 3, 3, bps_off),            # BitsPerSample -> offset
        entry(259, 3, 1, compression),        # Compression: none/deflate
        entry(262, 3, 1, 2),                  # Photometric: RGB
        entry(273, 4, n_strips, so_off if n_strips > 1 else strip_offsets[0]),
        entry(277, 3, 1, 3),                  # SamplesPerPixel
        entry(278, 4, 1, rows_per_strip),     # RowsPerStrip
        entry(279, 4, n_strips, sc_off if n_strips > 1 else len(strips[0])),
    ]
    out = bytearray()
    out += magic + struct.pack(f"{bo}HI", 42, ifd_off)
    for s, pad in zip(strips, pads):
        out += s
        out += b"\x00" * pad
    out += struct.pack(f"{bo}3H", 8, 8, 8)
    out += struct.pack(f"{bo}{n_strips}I", *strip_offsets)
    out += struct.pack(f"{bo}{n_strips}I", *(len(s) for s in strips))
    out += struct.pack(f"{bo}H", len(entries))
    for e in entries:
        out += e
    out += struct.pack(f"{bo}I", 0)  # no next IFD
    return bytes(out)


def decode_tiff(payload: bytes) -> dict:
    """Parse a baseline TIFF from its actual bytes: byte-order dispatch
    (II/MM), IFD walk with SHORT/LONG types and inline-vs-offset values,
    multi-strip reassembly, exact per-channel sums. Anything outside the
    baseline RGB profile (compression, planar, palette, bit depths other
    than 8) rejects with ValueError rather than fabricating pixels."""
    if len(payload) < 8:
        raise ValueError("truncated TIFF header")
    if payload[:2] == b"II":
        bo = "<"
    elif payload[:2] == b"MM":
        bo = ">"
    else:
        raise ValueError("not a TIFF payload")
    magic, ifd_off = struct.unpack_from(f"{bo}HI", payload, 2)
    if magic != 42:
        raise ValueError("not a TIFF payload")
    if ifd_off + 2 > len(payload):
        raise ValueError("truncated TIFF IFD")
    (n_entries,) = struct.unpack_from(f"{bo}H", payload, ifd_off)
    if ifd_off + 2 + 12 * n_entries + 4 > len(payload):
        raise ValueError("truncated TIFF IFD")

    def values(typ: int, count: int, raw: bytes) -> list[int]:
        size = _TIFF_TYPE_SIZES.get(typ)
        if size is None:
            raise ValueError(f"unsupported TIFF field type {typ}")
        fmt = "H" if typ == 3 else "I"
        if size * count <= 4:
            return list(struct.unpack_from(f"{bo}{count}{fmt}", raw, 0))
        (off,) = struct.unpack_from(f"{bo}I", raw, 0)
        if off + size * count > len(payload):
            raise ValueError("truncated TIFF value array")
        return list(struct.unpack_from(f"{bo}{count}{fmt}", payload, off))

    # only the tags this profile consumes are parsed; everything else
    # (RATIONAL resolutions, ASCII Software, ...) is legitimately present
    # in real baseline files and skipped — rejecting on an unconsumed
    # tag's field type would refuse valid libtiff/PIL output
    _CONSUMED = {256, 257, 258, 259, 262, 273, 277, 278, 279}
    tags: dict[int, list[int]] = {}
    for i in range(n_entries):
        base = ifd_off + 2 + 12 * i
        tag, typ, count = struct.unpack_from(f"{bo}HHI", payload, base)
        if tag in _CONSUMED:
            tags[tag] = values(typ, count, payload[base + 8 : base + 12])

    def one(tag: int, default: int | None = None) -> int:
        if tag not in tags:
            if default is None:
                raise ValueError(f"missing required TIFF tag {tag}")
            return default
        return tags[tag][0]

    width, height = one(256), one(257)
    compression = one(259, 1)
    if compression not in (1, 8):
        raise ValueError("unsupported TIFF compression")
    if one(262) != 2 or one(277, 1) != 3 or tags.get(258, [8, 8, 8]) != [8, 8, 8]:
        raise ValueError("unsupported TIFF profile (need 8-bit chunky RGB)")
    offsets, counts = tags.get(273), tags.get(279)
    if not offsets or not counts or len(offsets) != len(counts):
        raise ValueError("missing/mismatched TIFF strip tags")
    data = bytearray()
    for off, cnt in zip(offsets, counts):
        if off + cnt > len(payload):
            raise ValueError("truncated TIFF strip")
        strip = payload[off : off + cnt]
        if compression == 8:
            # Deflate ("Adobe deflate", tag value 8): each strip is an
            # independent zlib stream — per-strip decompression is what
            # keeps a huge TIFF strip-parallel
            try:
                strip = zlib.decompress(strip)
            except zlib.error as exc:
                raise ValueError(f"bad TIFF deflate strip: {exc}") from None
        data += strip
    if len(data) != width * height * 3:
        raise ValueError("TIFF strip data does not match declared dims")
    sums = [0, 0, 0]
    for i in range(0, len(data), 3):
        sums[0] += data[i]
        sums[1] += data[i + 1]
        sums[2] += data[i + 2]
    return {
        "width": width,
        "height": height,
        "sum_r": sums[0],
        "sum_g": sums[1],
        "sum_b": sums[2],
    }


def _tiff_pixel(seed: int, x: int, y: int, c: int) -> int:
    """Deterministic pixel byte (distinct formula from the BMP/PNG/GIF
    generators so container mixups cannot cancel in oracle sums)."""
    return (seed * 59 + y * 23 + x * 17 + c * 37) % 256


def synth_tiff(seed: int, width: int, height: int) -> bytes:
    """A real, to-spec baseline TIFF; odd seeds use big-endian (MM) byte
    order so the decoder's endianness dispatch is exercised by the
    corpus itself."""
    return encode_tiff(
        width,
        height,
        lambda x, y, c: _tiff_pixel(seed, x, y, c),
        byte_order="<" if seed % 2 == 0 else ">",
    )


# ---------------------------------------------------------------------------
# REAL baseline JPEG (ITU-T T.81): the full lossy-codec path from first
# principles — 8x8 DCT, quantization, zigzag, DC prediction, canonical
# Huffman entropy coding with byte stuffing, JFIF/SOF0 framing — in pure
# Python float64/integer arithmetic (deterministic IEEE, no codec library).
#
# What makes a LOSSY codec exact-oracle-checkable: a block that is CONSTANT
# has a DC-only DCT (all AC are mathematically zero; float64 residue is
# ~1e-13, far below the round-to-int threshold), and with a DC quantizer of
# 1 the DC coefficient 8*(v-128) is integer-exact both directions — so
# block-constant images roundtrip BIT-EXACTLY through the full entropy-coded
# pipeline while the codec itself stays fully general. The catalog entry
# synthesizes block-constant grayscale images and the SQL oracle recomputes
# the per-image pixel sums from the generator formula; general images are
# covered by bounded-error roundtrip pytest (AC quantizer 2 keeps every AC
# magnitude within baseline's category-10 limit of +-1023 even for
# adversarial checkerboards, at the cost of +-1 per-coefficient error).
#
# Honesty boundary: this implements baseline SEQUENTIAL JPEG with 4:4:4 (or
# single-component) sampling — progressive scans, subsampled chroma, and
# arithmetic coding raise NotImplementedError with a named reason; MP4-class
# video decode remains the stubbed tier above.
# ---------------------------------------------------------------------------

import math

_JPEG_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

# Canonical Huffman tables from T.81 Annex K.3 (the spec's published
# example tables, used by virtually every baseline encoder): (BITS, VALS).
_JPEG_DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_JPEG_DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_JPEG_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
        0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
        0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
        0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
        0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
        0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
        0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
        0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
        0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
        0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
        0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
        0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
        0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
        0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
        0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
        0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
        0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
        0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)
_JPEG_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
        0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
        0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
        0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
        0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
        0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
        0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
        0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
        0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
        0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
        0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
        0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
        0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
        0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
        0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)

# Quantization: DC divisor 1 (exact integer DC both directions — the
# block-constant exactness hinges on this), AC divisor 2 (halves the AC
# range so even a worst-case +-128 checkerboard's coefficients stay within
# the baseline AC size-category limit of +-1023).
_JPEG_QTABLE = [1] + [2] * 63


def _jpeg_dct_basis() -> list[list[float]]:
    c = []
    for u in range(8):
        s = math.sqrt(1.0 / 8.0) if u == 0 else math.sqrt(2.0 / 8.0)
        c.append(
            [s * math.cos((2 * x + 1) * u * math.pi / 16.0) for x in range(8)]
        )
    return c


_JPEG_DCT_C = _jpeg_dct_basis()


def _jpeg_dct2(block: list[list[float]]) -> list[list[float]]:
    """Forward 2-D DCT-II (orthonormal): C @ B @ C^T, fixed loop order."""
    c = _JPEG_DCT_C
    tmp = [
        [sum(c[u][x] * block[x][y] for x in range(8)) for y in range(8)]
        for u in range(8)
    ]
    return [
        [sum(tmp[u][y] * c[v][y] for y in range(8)) for v in range(8)]
        for u in range(8)
    ]


def _jpeg_idct2(coef: list[list[float]]) -> list[list[float]]:
    """Inverse 2-D DCT (C^T @ F @ C)."""
    c = _JPEG_DCT_C
    tmp = [
        [sum(c[u][x] * coef[u][v] for u in range(8)) for v in range(8)]
        for x in range(8)
    ]
    return [
        [sum(tmp[x][v] * c[v][y] for v in range(8)) for y in range(8)]
        for x in range(8)
    ]


def _jpeg_huff_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """Canonical Huffman assignment (T.81 C.2): codes in value order, by
    increasing length."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


class _JpegBitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            b = (self.acc >> (self.nbits - 8)) & 0xFF
            self.nbits -= 8
            self.buf.append(b)
            if b == 0xFF:  # byte stuffing: 0xFF in entropy data -> 0xFF00
                self.buf.append(0x00)
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # 1-pad per spec
        return bytes(self.buf)


class _JpegBitReader:
    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        d = self.data
        if self.pos >= len(d):
            raise ValueError("jpeg: entropy stream truncated")
        b = d[self.pos]
        self.pos += 1
        if b == 0xFF:
            if self.pos >= len(d):
                raise ValueError("jpeg: dangling 0xFF at end of stream")
            nxt = d[self.pos]
            if nxt == 0x00:
                self.pos += 1  # stuffed byte
            else:
                # a real marker inside the scan (EOI reached early, or an
                # unsupported RSTn) — treated as truncation
                raise ValueError(f"jpeg: unexpected marker 0xFF{nxt:02X} in scan")
        self.acc = (self.acc << 8) | b
        self.nbits += 8

    def bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v


def _jpeg_category(v: int) -> tuple[int, int]:
    """(size, raw bits) for a DC diff / AC value per T.81 F.1.2.1."""
    if v == 0:
        return 0, 0
    size = abs(v).bit_length()
    return (size, v if v > 0 else v + (1 << size) - 1)


def _jpeg_extend(bits: int, size: int) -> int:
    if size == 0:
        return 0
    if bits < (1 << (size - 1)):
        return bits - (1 << size) + 1
    return bits


def _jpeg_seg(marker: int, payload: bytes) -> bytes:
    return bytes([0xFF, marker]) + (len(payload) + 2).to_bytes(2, "big") + payload


def _rgb_to_ycbcr(r: int, g: int, b: int) -> tuple[int, int, int]:
    y = round(0.299 * r + 0.587 * g + 0.114 * b)
    cb = round(128 - 0.168736 * r - 0.331264 * g + 0.5 * b)
    cr = round(128 + 0.5 * r - 0.418688 * g - 0.081312 * b)
    clamp = lambda v: 0 if v < 0 else (255 if v > 255 else v)  # noqa: E731
    return clamp(y), clamp(cb), clamp(cr)


def _ycbcr_to_rgb(y: int, cb: int, cr: int) -> tuple[int, int, int]:
    r = round(y + 1.402 * (cr - 128))
    g = round(y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128))
    b = round(y + 1.772 * (cb - 128))
    clamp = lambda v: 0 if v < 0 else (255 if v > 255 else v)  # noqa: E731
    return clamp(r), clamp(g), clamp(b)


def encode_jpeg(width: int, height: int, pixel, gray: bool = True) -> bytes:
    """Encode a baseline sequential JFIF image. ``pixel(x, y)`` returns a
    0-255 luma value when ``gray`` else an (r, g, b) tuple; color encodes
    as 4:4:4 YCbCr (one block per component per MCU). Partial edge blocks
    pad by edge replication (the decoder crops them away)."""
    bw, bh = (width + 7) // 8, (height + 7) // 8

    # component planes, level-shifted lazily per block
    if gray:
        planes = [lambda x, y: pixel(x, y)]
    else:
        def chan(i):
            return lambda x, y: _rgb_to_ycbcr(*pixel(x, y))[i]

        planes = [chan(0), chan(1), chan(2)]

    ncomp = len(planes)
    dc_tabs = [_jpeg_huff_codes(*_JPEG_DC_LUMA)] + [
        _jpeg_huff_codes(*_JPEG_DC_CHROMA)
    ] * (ncomp - 1)
    ac_tabs = [_jpeg_huff_codes(*_JPEG_AC_LUMA)] + [
        _jpeg_huff_codes(*_JPEG_AC_CHROMA)
    ] * (ncomp - 1)

    # Vectorized forward path: materialize each component plane once,
    # pad by edge replication, and DCT every 8x8 block in ONE batched
    # einsum (numpy). Summation order differs from the scalar loops, but
    # the exact-oracle class is unaffected: a constant block's AC
    # residue is ~1e-13 under ANY order and DC lands within 1e-13 of the
    # integer 8*(v-128) — both rounds snap identically.
    import numpy as np

    c_mat = np.asarray(_JPEG_DCT_C)
    comp_zz = []
    for plane in planes:
        arr = np.asarray(
            [[plane(x, y) for y in range(height)] for x in range(width)],
            dtype=np.float64,
        ) - 128.0
        arr = np.pad(
            arr, ((0, bw * 8 - width), (0, bh * 8 - height)), mode="edge"
        )
        # (bw, 8, bh, 8) -> (bw, bh, 8, 8) blocks indexed [xx][yy]
        blocks = arr.reshape(bw, 8, bh, 8).transpose(0, 2, 1, 3)
        coef = np.einsum("ux,abxy,vy->abuv", c_mat, blocks, c_mat)
        # spec zigzag indexes v*8+u (v = vertical frequency); coef is
        # [...,u,v], so flatten v-major then reorder through the zigzag
        flat = coef.transpose(0, 1, 3, 2).reshape(bw, bh, 64)
        qarr = np.asarray(_JPEG_QTABLE, dtype=np.float64)
        zzs = np.rint(flat[:, :, _JPEG_ZIGZAG] / qarr).astype(np.int64)
        comp_zz.append(zzs)

    out = _JpegBitWriter()
    prev_dc = [0] * ncomp
    for by in range(bh):
        for bx in range(bw):
            for ci in range(ncomp):
                zz = comp_zz[ci][bx, by].tolist()
                diff = zz[0] - prev_dc[ci]
                prev_dc[ci] = zz[0]
                size, raw = _jpeg_category(diff)
                code, length = dc_tabs[ci][size]
                out.write(code, length)
                if size:
                    out.write(raw, size)
                run = 0
                last_nz = max(
                    (i for i in range(1, 64) if zz[i] != 0), default=0
                )
                for i in range(1, last_nz + 1):
                    if zz[i] == 0:
                        run += 1
                        continue
                    while run >= 16:
                        zcode, zlen = ac_tabs[ci][0xF0]  # ZRL
                        out.write(zcode, zlen)
                        run -= 16
                    size, raw = _jpeg_category(zz[i])
                    code, length = ac_tabs[ci][(run << 4) | size]
                    out.write(code, length)
                    out.write(raw, size)
                    run = 0
                if last_nz < 63:
                    code, length = ac_tabs[ci][0x00]  # EOB
                    out.write(code, length)
    scan = out.flush()

    def dht(cls: int, tid: int, table: tuple[list[int], list[int]]) -> bytes:
        bits, vals = table
        return _jpeg_seg(
            0xC4, bytes([(cls << 4) | tid]) + bytes(bits) + bytes(vals)
        )

    payload = bytearray()
    payload += b"\xff\xd8"  # SOI
    payload += _jpeg_seg(
        0xE0, b"JFIF\x00\x01\x01\x00" + b"\x00\x01\x00\x01" + b"\x00\x00"
    )
    payload += _jpeg_seg(0xDB, bytes([0x00]) + bytes(_JPEG_QTABLE))
    if ncomp > 1:
        payload += _jpeg_seg(0xDB, bytes([0x01]) + bytes(_JPEG_QTABLE))
    sof = bytearray([8]) + height.to_bytes(2, "big") + width.to_bytes(2, "big")
    sof.append(ncomp)
    for ci in range(ncomp):
        sof += bytes([ci + 1, 0x11, 0 if ci == 0 else 1])  # 1x1 sampling
    payload += _jpeg_seg(0xC0, bytes(sof))
    payload += dht(0, 0, _JPEG_DC_LUMA) + dht(1, 0, _JPEG_AC_LUMA)
    if ncomp > 1:
        payload += dht(0, 1, _JPEG_DC_CHROMA) + dht(1, 1, _JPEG_AC_CHROMA)
    sos = bytearray([ncomp])
    for ci in range(ncomp):
        sos += bytes([ci + 1, 0x00 if ci == 0 else 0x11])
    sos += bytes([0, 63, 0])  # full spectral selection, no approximation
    payload += _jpeg_seg(0xDA, bytes(sos))
    payload += scan
    payload += b"\xff\xd9"  # EOI
    return bytes(payload)


def _decode_jpeg_core(payload: bytes):
    """Shared baseline-JPEG decode core: parse the marker stream
    (DQT/SOF0/DHT/SOS), entropy-decode with the tables the FILE carries
    (not the encoder's constants), dequantize, inverse-zigzag, IDCT, and
    clamp. Returns (width, height, ncomp, planes) with planes in component
    space (Y or Y/Cb/Cr). Progressive (SOF2), subsampled chroma, restart
    intervals, and non-baseline SOFs raise NotImplementedError by name —
    the honesty boundary of a from-first-principles baseline codec."""
    d = payload
    if d[:2] != b"\xff\xd8":
        raise ValueError("jpeg: missing SOI")
    pos = 2
    qtables: dict[int, list[int]] = {}
    dc_tabs: dict[int, dict] = {}
    ac_tabs: dict[int, dict] = {}
    comps: list[tuple[int, int, int]] = []  # (comp_id, sampling, qtab_id)
    width = height = 0
    scan_comps: list[tuple[int, int, int]] = []  # (comp_idx, dc_id, ac_id)
    while True:
        if pos + 2 > len(d):
            raise ValueError("jpeg: truncated before SOS")
        if d[pos] != 0xFF:
            raise ValueError(f"jpeg: expected marker at {pos}")
        # legal 0xFF fill bytes may pad before the marker byte (T.81
        # B.1.1.2); skip them or they'd be misparsed as a segment length
        while pos + 2 <= len(d) and d[pos + 1] == 0xFF:
            pos += 1
        if pos + 2 > len(d):
            raise ValueError("jpeg: truncated before SOS")
        marker = d[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI before scan
            raise ValueError("jpeg: EOI before SOS")
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            # TEM / RSTn are standalone markers with NO length segment;
            # RSTn before SOS also implies a restart-interval stream this
            # baseline decoder doesn't handle — raise by name, not a
            # misleading length-parse error
            if 0xD0 <= marker <= 0xD7:
                raise NotImplementedError(
                    "jpeg: restart markers not supported"
                )
            continue
        if marker in (0xC2, 0xC6, 0xCA, 0xCE):
            raise NotImplementedError("jpeg: progressive scans not supported")
        if marker in (0xC3, 0xC5, 0xC7, 0xC9, 0xCB, 0xCD, 0xCF):
            raise NotImplementedError("jpeg: non-baseline SOF not supported")
        seglen = int.from_bytes(d[pos : pos + 2], "big")
        if seglen < 2 or pos + seglen > len(d):
            raise ValueError("jpeg: truncated or corrupt segment")
        seg = d[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT (may hold several tables)
            i = 0
            while i < len(seg):
                prec, tid = seg[i] >> 4, seg[i] & 0x0F
                i += 1
                if i + (128 if prec else 64) > len(seg):
                    raise ValueError("jpeg: truncated DQT")
                if prec:
                    vals = [
                        int.from_bytes(seg[i + 2 * k : i + 2 * k + 2], "big")
                        for k in range(64)
                    ]
                    i += 128
                else:
                    vals = list(seg[i : i + 64])
                    i += 64
                qtables[tid] = vals
        elif marker == 0xC4:  # DHT (may hold several tables)
            i = 0
            while i < len(seg):
                cls, tid = seg[i] >> 4, seg[i] & 0x0F
                bits = list(seg[i + 1 : i + 17])
                n = sum(bits)
                if len(bits) < 16 or i + 17 + n > len(seg):
                    raise ValueError("jpeg: truncated DHT")
                vals = list(seg[i + 17 : i + 17 + n])
                table = _jpeg_huff_codes(bits, vals)
                # decoder wants (length, code) -> symbol
                rev = {(ln, code): sym for sym, (code, ln) in table.items()}
                (dc_tabs if cls == 0 else ac_tabs)[tid] = rev
                i += 17 + n
        elif marker == 0xC0 or marker == 0xC1:  # SOF0/1 (baseline/ext seq)
            height = int.from_bytes(seg[1:3], "big")
            width = int.from_bytes(seg[3:5], "big")
            ncomp = seg[5]
            if len(seg) < 6 + 3 * ncomp:
                raise ValueError("jpeg: truncated SOF")
            for k in range(ncomp):
                cid, samp, qid = seg[6 + 3 * k : 9 + 3 * k]
                if samp != 0x11:
                    raise NotImplementedError(
                        "jpeg: subsampled chroma not supported (4:4:4 only)"
                    )
                comps.append((cid, samp, qid))
        elif marker == 0xDD:  # DRI
            if int.from_bytes(seg[:2], "big") != 0:
                raise NotImplementedError("jpeg: restart intervals not supported")
        elif marker == 0xDA:  # SOS
            ns = seg[0]
            for k in range(ns):
                cid, tabs = seg[1 + 2 * k], seg[2 + 2 * k]
                idx = next(
                    i for i, (c, _, _) in enumerate(comps) if c == cid
                )
                scan_comps.append((idx, tabs >> 4, tabs & 0x0F))
            pos += seglen
            break
        pos += seglen
    if not comps or width == 0:
        raise ValueError("jpeg: no SOF before SOS")

    reader = _JpegBitReader(d, pos)

    def huff_decode(rev: dict) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | reader.bit()
            sym = rev.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("jpeg: invalid Huffman code")

    bw, bh = (width + 7) // 8, (height + 7) // 8
    ncomp = len(comps)
    comp_blocks: list[list[list[int]]] = [[] for _ in range(ncomp)]
    prev_dc = [0] * ncomp
    for by in range(bh):
        for bx in range(bw):
            for ci, dc_id, ac_id in scan_comps:
                try:
                    qt = qtables[comps[ci][2]]
                    dc_rev = dc_tabs[dc_id]
                    ac_rev = ac_tabs[ac_id]
                except KeyError as e:
                    raise ValueError(f"jpeg: undefined table id {e}") from None
                zz = [0] * 64
                size = huff_decode(dc_rev)
                diff = _jpeg_extend(reader.bits(size), size)
                prev_dc[ci] += diff
                zz[0] = prev_dc[ci]
                i = 1
                while i < 64:
                    sym = huff_decode(ac_rev)
                    if sym == 0x00:  # EOB
                        break
                    if sym == 0xF0:  # ZRL
                        i += 16
                        continue
                    run, size = sym >> 4, sym & 0x0F
                    i += run
                    if i > 63:
                        raise ValueError("jpeg: AC run overflows block")
                    zz[i] = _jpeg_extend(reader.bits(size), size)
                    i += 1
                deq = [zz[i] * qt[i] for i in range(64)]
                comp_blocks[ci].append(deq)

    # Batched inverse path (numpy): inverse-zigzag all blocks at once,
    # one einsum IDCT per component, round+clamp vectorized. Same
    # summation-order note as the encoder: the exact class is DC-only,
    # where order cannot move the rounded result.
    import numpy as np

    c_mat = np.asarray(_JPEG_DCT_C)
    inv_zz = np.empty(64, dtype=np.int64)
    for i, nat in enumerate(_JPEG_ZIGZAG):
        inv_zz[nat] = i  # natural v*8+u -> zigzag position
    planes = []
    for ci in range(ncomp):
        zzs = np.asarray(comp_blocks[ci], dtype=np.float64)  # (nblk, 64)
        nat = zzs[:, inv_zz].reshape(-1, 8, 8)  # [...,v,u]
        coef = nat.transpose(0, 2, 1)  # [...,u,v]
        spatial = np.einsum("ux,buv,vy->bxy", c_mat, coef, c_mat)
        pix = np.clip(np.rint(spatial) + 128, 0, 255).astype(np.int64)
        # scan order was (by, bx); rebuild the [x][y] plane
        plane = np.empty((bw * 8, bh * 8), dtype=np.int64)
        k = 0
        for by in range(bh):
            for bx in range(bw):
                plane[bx * 8 : bx * 8 + 8, by * 8 : by * 8 + 8] = pix[k]
                k += 1
        planes.append(plane.tolist())

    return width, height, ncomp, planes


def decode_jpeg(payload: bytes) -> dict:
    """Exact-feature dict (width/height + per-channel pixel sums) for a
    baseline JPEG; grayscale reports the luma sum on all three channels,
    color converts YCbCr -> RGB per JFIF before summing."""
    width, height, ncomp, planes = _decode_jpeg_core(payload)
    sum_r = sum_g = sum_b = 0
    if ncomp == 1:
        for x in range(width):
            col = planes[0][x]
            for y in range(height):
                sum_r += col[y]
        sum_g = sum_b = sum_r
    else:
        for x in range(width):
            cy, ccb, ccr = planes[0][x], planes[1][x], planes[2][x]
            for y in range(height):
                r, g, b = _ycbcr_to_rgb(cy[y], ccb[y], ccr[y])
                sum_r += r
                sum_g += g
                sum_b += b
    return {
        "width": width,
        "height": height,
        "sum_r": sum_r,
        "sum_g": sum_g,
        "sum_b": sum_b,
    }


def decode_jpeg_pixels(payload: bytes):
    """(width, height, pixel) for a decoded baseline JPEG — pixel(x, y)
    returns luma for grayscale, (r, g, b) for color. Test-side helper for
    bounded-error roundtrip checks; shares the full decode core."""
    width, height, ncomp, planes = _decode_jpeg_core(payload)
    if ncomp == 1:
        return width, height, lambda x, y: planes[0][x][y]
    return (
        width,
        height,
        lambda x, y: _ycbcr_to_rgb(
            planes[0][x][y], planes[1][x][y], planes[2][x][y]
        ),
    )


def _jpeg_block_value(seed: int, bx: int, by: int) -> int:
    """Generator for the block-constant exact-oracle images."""
    return (seed * 31 + by * 17 + bx * 7) % 256


def synth_jpeg(seed: int, width: int, height: int) -> bytes:
    """Block-constant grayscale image (dims multiples of 8): the exactly-
    representable class for a lossy DCT codec — see section comment."""
    return encode_jpeg(
        width, height, lambda x, y: _jpeg_block_value(seed, x // 8, y // 8)
    )


# ---------------------------------------------------------------------------
# Netpbm (PPM P6 / PGM P5): the simplest REAL raster container — an ASCII
# header (magic, dims, maxval, with '#' comment lines and arbitrary
# whitespace allowed between tokens) followed by raw binary samples. The
# encoder deliberately emits a comment line so the decoder's token scanner
# (skip-whitespace + skip-comment state machine, the part naive parsers
# get wrong) is genuinely exercised.
# ---------------------------------------------------------------------------


def encode_ppm(width: int, height: int, pixel) -> bytes:
    """P6 binary PPM: ``pixel(x, y, c) -> 0..255`` for c in (0=R,1=G,2=B)."""
    header = b"P6\n# synthetic\n%d %d\n255\n" % (width, height)
    body = bytes(
        pixel(x, y, c)
        for y in range(height)
        for x in range(width)
        for c in range(3)
    )
    return header + body


def encode_pgm(width: int, height: int, gray) -> bytes:
    """P5 binary PGM: ``gray(x, y) -> 0..255``."""
    header = b"P5\n# synthetic\n%d %d\n255\n" % (width, height)
    body = bytes(gray(x, y) for y in range(height) for x in range(width))
    return header + body


def _netpbm_tokens(payload: bytes, n: int, start: int):
    """Scan ``n`` whitespace/comment-separated ASCII tokens from
    ``start``; returns (tokens, offset_after). Raises ValueError on a
    malformed header — netpbm comments run '#' to end-of-line and may
    appear between any two tokens."""
    toks: list[bytes] = []
    i = start
    while len(toks) < n:
        if i >= len(payload):
            raise ValueError("netpbm: truncated header")
        b = payload[i : i + 1]
        if b == b"#":
            j = payload.find(b"\n", i)
            if j < 0:
                raise ValueError("netpbm: unterminated comment")
            i = j + 1
        elif b.isspace():
            i += 1
        else:
            j = i
            while (
                j < len(payload)
                and not payload[j : j + 1].isspace()
                and payload[j : j + 1] != b"#"
            ):
                j += 1
            toks.append(payload[i:j])
            i = j
    # exactly ONE whitespace byte separates the maxval token from the
    # binary raster (the spec's single-whitespace rule)
    if i >= len(payload) or not payload[i : i + 1].isspace():
        raise ValueError("netpbm: missing raster separator")
    return toks, i + 1


def decode_ppm(payload: bytes) -> dict:
    """Parse P6 (RGB) or P5 (grayscale) netpbm bytes to exact per-channel
    sums; grayscale reports the same sum on all three channels."""
    magic = payload[:2]
    if magic not in (b"P6", b"P5"):
        raise ValueError(f"not a binary netpbm payload: {magic!r}")
    toks, off = _netpbm_tokens(payload, 3, 2)
    width, height, maxval = (int(t) for t in toks)
    if maxval != 255:
        raise ValueError(f"netpbm: unsupported maxval {maxval}")
    nch = 3 if magic == b"P6" else 1
    need = width * height * nch
    raster = payload[off : off + need]
    if len(raster) != need:
        raise ValueError("netpbm: truncated raster")
    if nch == 3:
        sum_r = sum(raster[0::3])
        sum_g = sum(raster[1::3])
        sum_b = sum(raster[2::3])
    else:
        sum_r = sum_g = sum_b = sum(raster)
    return {
        "width": width,
        "height": height,
        "sum_r": sum_r,
        "sum_g": sum_g,
        "sum_b": sum_b,
    }


def synth_ppm(seed: int, width: int, height: int) -> bytes:
    return encode_ppm(
        width, height, lambda x, y, c: (seed * 43 + y * 17 + x * 7 + c * 29) % 256
    )


def synth_pgm(seed: int, width: int, height: int) -> bytes:
    return encode_pgm(
        width, height, lambda x, y: (seed * 31 + y * 13 + x * 5) % 256
    )


# --------------------------------------------------------------------------
# TGA (Truevision TARGA) — the magic-less raster format: nothing at byte 0
# identifies a TGA, so real pipelines sniff the TGA 2.0 FOOTER signature
# ("TRUEVISION-XFILE.\0" in the file's last 18 bytes). Type 2 is raw
# bottom/top-origin BGR; type 10 is the RLE variant whose packets must not
# cross scanlines. Both are covered; the encoder writes the v2 footer so
# the corpus is sniffable the way decode_real_media_features needs.

_TGA_SIGNATURE = b"TRUEVISION-XFILE.\x00"


def encode_tga(width: int, height: int, pixel, rle: bool = False) -> bytes:
    """Encode a to-spec TGA from a ``pixel(x, y, c)`` accessor
    (c: 0=B, 1=G, 2=R). ``rle=False`` -> type 2 (uncompressed),
    ``rle=True`` -> type 10 (run-length, packets per scanline).
    Top-left origin (descriptor bit 5), 24 bpp, TGA 2.0 footer."""
    hdr = struct.pack(
        "<BBBHHBHHHHBB",
        0, 0, 10 if rle else 2, 0, 0, 0, 0, 0, width, height, 24, 0x20,
    )
    body = bytearray()
    for y in range(height):
        row = [
            bytes((pixel(x, y, 0), pixel(x, y, 1), pixel(x, y, 2)))
            for x in range(width)
        ]
        if not rle:
            body += b"".join(row)
            continue
        # RLE packets: runs >= 2 become run packets, singletons batch
        # into raw packets; both capped at 128 pixels and NEVER crossing
        # the scanline (the spec's packet rule).
        x = 0
        lits: list[bytes] = []

        def flush_lits() -> None:
            i = 0
            while i < len(lits):
                chunk = lits[i : i + 128]
                body.append(len(chunk) - 1)
                body.extend(b"".join(chunk))
                i += 128
            lits.clear()

        while x < width:
            run = 1
            while (
                x + run < width and run < 128 and row[x + run] == row[x]
            ):
                run += 1
            if run >= 2:
                flush_lits()
                body.append(0x80 | (run - 1))
                body.extend(row[x])
            else:
                lits.append(row[x])
            x += run
        flush_lits()
    footer = struct.pack("<II", 0, 0) + _TGA_SIGNATURE
    return bytes(hdr) + bytes(body) + footer


def decode_tga(payload: bytes) -> dict:
    """Parse a type-2 (raw) or type-10 (RLE) 24-bit TGA to exact
    per-channel sums. Validates the v2 footer signature (the format has
    no leading magic — the footer IS the sniffable identity), rejects
    palettized/16-bit/right-to-left variants by name. Channel sums are
    row-order-invariant, so both origin bits decode identically."""
    if len(payload) < 18 + 26 or payload[-18:] != _TGA_SIGNATURE:
        raise ValueError("not a TGA 2.0 payload (footer signature missing)")
    (
        id_len, cmap_type, img_type, _cf, cmap_len, _ce,
        _x0, _y0, width, height, bpp, desc,
    ) = struct.unpack_from("<BBBHHBHHHHBB", payload, 0)
    if cmap_type != 0 or cmap_len != 0:
        raise ValueError("unsupported TGA variant: color-mapped")
    if img_type not in (2, 10):
        raise ValueError(f"unsupported TGA image type {img_type}")
    if bpp != 24:
        raise ValueError(f"unsupported TGA depth {bpp}")
    if desc & 0x10:
        raise ValueError("unsupported TGA variant: right-to-left")
    pos = 18 + id_len
    end = len(payload) - 26
    need = width * height
    sums = [0, 0, 0]  # B, G, R
    if img_type == 2:
        raster = payload[pos : pos + need * 3]
        if len(raster) != need * 3 or pos + need * 3 > end:
            raise ValueError("truncated TGA raster")
        sums[0] = sum(raster[0::3])
        sums[1] = sum(raster[1::3])
        sums[2] = sum(raster[2::3])
    else:
        got = 0
        while got < need:
            if pos >= end:
                raise ValueError("truncated TGA RLE stream")
            head = payload[pos]
            pos += 1
            count = (head & 0x7F) + 1
            if head & 0x80:
                # bound against the RASTER end, not the payload end — a
                # packet spilling into the 26-byte footer must raise, not
                # silently decode signature bytes as pixels
                if pos + 3 > end:
                    raise ValueError("truncated TGA RLE packet")
                px = payload[pos : pos + 3]
                pos += 3
                for c in range(3):
                    sums[c] += px[c] * count
            else:
                if pos + 3 * count > end:
                    raise ValueError("truncated TGA raw packet")
                chunk = payload[pos : pos + 3 * count]
                pos += 3 * count
                for c in range(3):
                    sums[c] += sum(chunk[c::3])
            got += count
        if got != need:
            raise ValueError("TGA RLE packet crossed the raster end")
    return {
        "width": width,
        "height": height,
        "sum_r": sums[2],
        "sum_g": sums[1],
        "sum_b": sums[0],
    }


def _tga_pixel(seed: int, x: int, y: int, c: int) -> int:
    """Deterministic TGA pixel (c: 0=B, 1=G, 2=R). Every third row is
    constant across x so the RLE encoder genuinely emits run packets —
    the oracle mirrors the CASE."""
    if y % 3 == 0:
        return (seed * 19 + y * 7 + c * 11) % 256
    return (seed * 19 + y * 7 + x * 13 + c * 11) % 256


def synth_tga(seed: int, width: int, height: int) -> bytes:
    """Even seeds: raw type 2; odd seeds: RLE type 10 — one corpus
    exercises both subformats through the same decode dispatch."""
    return encode_tga(
        width,
        height,
        lambda x, y, c: _tga_pixel(seed, x, y, c),
        rle=seed % 2 == 1,
    )


# --------------------------------------------------------------------------
# ICO — the CONTAINER format: a directory of images whose payloads are
# headerless BMP DIBs (BITMAPINFOHEADER with DOUBLED height covering the
# XOR color plane plus a 1-bpp AND transparency mask). Decoding one is
# two-thirds of the BMP decoder applied at an offset — the container/codec
# split every multimodal pipeline deals with.


def encode_ico(width: int, height: int, pixel) -> bytes:
    """Encode a single-image 24-bit ICO from a ``pixel(x, y, c)``
    accessor (c: 0=B, 1=G, 2=R): ICONDIR + one ICONDIRENTRY + a
    headerless DIB (doubled-height BITMAPINFOHEADER, bottom-up padded
    XOR rows, all-opaque AND mask)."""
    if not (1 <= width <= 256 and 1 <= height <= 256):
        raise ValueError("ICO dims must be in [1, 256]")
    xor_stride = (3 * width + 3) & ~3
    and_stride = ((width + 31) // 32) * 4
    dib_size = 40 + xor_stride * height + and_stride * height
    info = struct.pack(
        "<IiiHHIIiiII",
        40, width, height * 2, 1, 24, 0,
        xor_stride * height + and_stride * height, 0, 0, 0, 0,
    )
    body = bytearray(info)
    for stored_row in range(height):
        y = height - 1 - stored_row
        for x in range(width):
            body += bytes((pixel(x, y, 0), pixel(x, y, 1), pixel(x, y, 2)))
        body += b"\x00" * (xor_stride - 3 * width)
    body += b"\x00" * (and_stride * height)  # AND mask: all opaque
    head = struct.pack("<HHH", 0, 1, 1)
    entry = struct.pack(
        "<BBBBHHII",
        width % 256, height % 256, 0, 0, 1, 24, dib_size, 6 + 16,
    )
    return head + entry + bytes(body)


def decode_ico(payload: bytes) -> dict:
    """Parse a single-image 24-bit ICO: directory walk, DIB at the
    declared offset, doubled-height validation, exact per-channel sums
    over the XOR plane (the AND mask is transparency, not color).
    PNG-compressed entries (the modern large-size variant) reject by
    name."""
    if len(payload) < 6 or payload[:4] != b"\x00\x00\x01\x00":
        raise ValueError("not an ICO payload")
    (n_images,) = struct.unpack_from("<H", payload, 4)
    if n_images != 1:
        raise ValueError(f"unsupported ICO: {n_images} images (need 1)")
    if len(payload) < 6 + 16:
        raise ValueError("truncated ICO directory")
    w8, h8, _pal, _rsv, _planes, _bpp, size, off = struct.unpack_from(
        "<BBBBHHII", payload, 6
    )
    if off + size > len(payload) or size < 40:
        raise ValueError("truncated ICO image data")
    if payload[off : off + 8] == b"\x89PNG\r\n\x1a\n":
        raise ValueError("unsupported ICO variant: PNG-compressed entry")
    (
        hdr_size, width, height2, _planes2, bpp, compression,
    ) = struct.unpack_from("<IiiHHI", payload, off)
    if hdr_size != 40 or compression != 0:
        raise ValueError("unsupported ICO DIB")
    if bpp != 24:
        raise ValueError(f"unsupported ICO depth {bpp}")
    if height2 % 2 != 0:
        raise ValueError("ICO DIB height must be doubled (XOR+AND)")
    height = height2 // 2
    if (w8 or 256) != width or (h8 or 256) != height:
        raise ValueError("ICO directory dims disagree with the DIB")
    xor_stride = (3 * width + 3) & ~3
    raster = payload[off + 40 : off + 40 + xor_stride * height]
    if len(raster) != xor_stride * height:
        raise ValueError("truncated ICO XOR plane")
    sums = [0, 0, 0]  # B, G, R
    for row in range(height):
        base = row * xor_stride
        line = raster[base : base + 3 * width]
        sums[0] += sum(line[0::3])
        sums[1] += sum(line[1::3])
        sums[2] += sum(line[2::3])
    return {
        "width": width,
        "height": height,
        "sum_r": sums[2],
        "sum_g": sums[1],
        "sum_b": sums[0],
    }


def _ico_pixel(seed: int, x: int, y: int, c: int) -> int:
    """Deterministic ICO pixel (c: 0=B, 1=G, 2=R), distinct constants
    from every other raster generator."""
    return (seed * 23 + y * 29 + x * 31 + c * 41) % 256


def synth_ico(seed: int, width: int, height: int) -> bytes:
    return encode_ico(
        width, height, lambda x, y, c: _ico_pixel(seed, x, y, c)
    )


# --------------------------------------------------------------------------
# G.711 mu-law WAV — telephony audio (WAVE_FORMAT_MULAW, format tag 7):
# 8-bit logarithmic companding expanded to 14-bit-magnitude PCM by pure
# integer bit math, so the expansion is exactly expressible in the oracle's
# SQL (no float tables, no libm).


def mulaw_expand(b: int) -> int:
    """Expand one mu-law byte to a linear PCM sample: complement, split
    sign/exponent/mantissa, magnitude ((mant*8 + 132) << exp) - 132 —
    the G.711 decode ladder, all integer."""
    u = (~b) & 0xFF
    sign = u & 0x80
    exp = (u >> 4) & 0x07
    mant = u & 0x0F
    mag = ((mant * 8 + 132) << exp) - 132
    return -mag if sign else mag


def encode_wav_mulaw(sample_rate: int, ulaw: bytes) -> bytes:
    """Encode raw mu-law bytes as a to-spec WAV: format tag 7, 8 bits per
    sample, plus the ``fact`` chunk that compressed WAV formats require
    (dwSampleLength = sample count)."""
    hdr = struct.pack(
        "<4sI4s4sIHHIIHH4sII",
        b"RIFF", 4 + 8 + 16 + 8 + 4 + 8 + len(ulaw), b"WAVE",
        b"fmt ", 16, 7, 1, sample_rate, sample_rate, 1, 8,
        b"fact", 4, len(ulaw),
    ) + struct.pack("<4sI", b"data", len(ulaw)) + ulaw
    return hdr


def decode_wav_mulaw(payload: bytes) -> dict:
    """Parse a mu-law WAV (format tag 7) and expand every byte; exact
    integer amplitude statistics on the EXPANDED samples."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a WAV payload")
    pos, sample_rate, raw = 12, None, None
    while pos + 8 <= len(payload):
        cid, csize = struct.unpack_from("<4sI", payload, pos)
        if pos + 8 + csize > len(payload):
            raise ValueError("truncated WAV chunk")
        body = payload[pos + 8 : pos + 8 + csize]
        if cid == b"fmt ":
            if csize < 16:
                raise ValueError("truncated fmt chunk")
            fmt, channels, sample_rate, _br, _ba, bits = struct.unpack_from(
                "<HHIIHH", body, 0
            )
            if fmt != 7 or channels != 1 or bits != 8:
                raise ValueError("not a mono mu-law WAV")
        elif cid == b"data":
            raw = body
        pos += 8 + csize + (csize & 1)
    if sample_rate is None or raw is None:
        raise ValueError("missing fmt/data chunk")
    samples = [mulaw_expand(b) for b in raw]
    return {
        "sample_rate": sample_rate,
        "n_samples": len(samples),
        "sum_abs": sum(abs(s) for s in samples),
        "n_nonneg": sum(1 for s in samples if s >= 0),
    }


def synth_wav_mulaw(seed: int, sample_rate: int, n_samples: int) -> bytes:
    """Deterministic mu-law byte stream: b_i = (seed*7 + i*3) % 256."""
    return encode_wav_mulaw(
        sample_rate, bytes((seed * 7 + i * 3) % 256 for i in range(n_samples))
    )


def synth_tiff_deflate(seed: int, width: int, height: int) -> bytes:
    """A real Deflate-compressed TIFF (compression tag 8, per-strip zlib);
    odd seeds big-endian like the uncompressed corpus, distinct pixel
    constants from every other generator."""
    return encode_tiff(
        width,
        height,
        lambda x, y, c: (seed * 61 + y * 19 + x * 29 + c * 43) % 256,
        byte_order="<" if seed % 2 == 0 else ">",
        compression=8,
    )


# --------------------------------------------------------------------------
# Stereo PCM16 WAV — channels=2, frames interleaved L,R. The mono parser
# deliberately rejects stereo (its single-amplitude feature row would
# silently average channels); the stereo decoder is its own feature stage
# with per-channel statistics plus the L*R dot (the stereo-correlation
# signal audio curation filters on: ~mono-ness).


def encode_wav_stereo(sample_rate: int, left, right) -> bytes:
    """Encode interleaved PCM16 stereo from two equal-length sample
    sequences."""
    if len(left) != len(right):
        raise ValueError("stereo channels must be equal length")
    inter = [s for lr in zip(left, right) for s in lr]
    data = struct.pack(f"<{len(inter)}h", *inter)
    hdr = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF", 36 + len(data), b"WAVE", b"fmt ", 16, 1, 2,
        sample_rate, sample_rate * 4, 4, 16, b"data", len(data),
    )
    return hdr + data


def decode_wav_stereo(payload: bytes) -> dict:
    """Parse a PCM16 STEREO WAV; exact per-channel integer statistics
    plus the inter-channel dot product."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a WAV payload")
    pos, sample_rate, raw = 12, None, None
    while pos + 8 <= len(payload):
        cid, csize = struct.unpack_from("<4sI", payload, pos)
        if pos + 8 + csize > len(payload):
            raise ValueError("truncated WAV chunk")
        body = payload[pos + 8 : pos + 8 + csize]
        if cid == b"fmt ":
            fmt, channels, sample_rate, _br, _ba, bits = struct.unpack_from(
                "<HHIIHH", body, 0
            )
            if fmt != 1 or channels != 2 or bits != 16:
                raise ValueError("not a stereo PCM16 WAV")
        elif cid == b"data":
            raw = body
        pos += 8 + csize + (csize & 1)
    if sample_rate is None or raw is None:
        raise ValueError("missing fmt/data chunk")
    n = len(raw) // 4
    inter = struct.unpack(f"<{n * 2}h", raw[: n * 4])
    left, right = inter[0::2], inter[1::2]
    return {
        "sample_rate": sample_rate,
        "n_frames": n,
        "l_sum_abs": sum(abs(s) for s in left),
        "r_sum_abs": sum(abs(s) for s in right),
        "lr_dot": sum(a * b for a, b in zip(left, right)),
    }


def synth_wav_stereo(seed: int, sample_rate: int, n_frames: int) -> bytes:
    left = [((seed * 11 + i * 5) % 4001) - 2000 for i in range(n_frames)]
    right = [((seed * 13 + i * 7) % 4001) - 2000 for i in range(n_frames)]
    return encode_wav_stereo(sample_rate, left, right)


STEREO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("sample_rate", T.LongType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("l_sum_abs", T.LongType()),
        T.StructField("r_sum_abs", T.LongType()),
        T.StructField("lr_dot", T.LongType()),
    ]
)


def decode_stereo_media_features(media: DataFrame) -> DataFrame:
    """Stereo-WAV feature stage (mapInPandas, Arrow-batched) — payload
    bytes never visit the driver."""
    return _map_rows(
        media,
        ["media_id", "payload"],
        lambda mid, payload: [
            {"media_id": int(mid), **decode_wav_stereo(bytes(payload))}
        ],
        STEREO_FEATURES_SCHEMA,
    )


def _png_filter_image(get_px, width: int, height: int) -> bytes:
    """Filter one (sub-)image: row y uses filter type y % 5, predictors
    reset at the top (the same per-sub-image independence the decoder
    relies on). ``get_px(i, j, c)`` addresses the SUB-image grid."""
    bpp = 3
    stride = width * bpp
    prev = bytes(stride)
    raw = bytearray()
    for j in range(height):
        recon = bytes(
            get_px(i, j, c) for i in range(width) for c in range(bpp)
        )
        ftype = j % 5
        filt = bytearray(stride)
        for i in range(stride):
            a = recon[i - bpp] if i >= bpp else 0
            b = prev[i]
            c = prev[i - bpp] if i >= bpp else 0
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = a
            elif ftype == 2:
                pred = b
            elif ftype == 3:
                pred = (a + b) // 2
            else:
                pred = _paeth(a, b, c)
            filt[i] = (recon[i] - pred) & 0xFF
        raw.append(ftype)
        raw += filt
        prev = recon
    return bytes(raw)


def encode_png_adam7(width: int, height: int, pixel) -> bytes:
    """Encode a to-spec ADAM7-INTERLACED 8-bit RGB PNG (IHDR interlace
    byte 1): seven per-pass sub-images, each independently filtered
    (filter type rotates per scanline, so every predictor is exercised
    in every non-trivial pass), concatenated into ONE zlib stream."""
    raw = bytearray()
    for x0, y0, dx, dy in _ADAM7_PASSES:
        wp = (width - x0 + dx - 1) // dx
        hp = (height - y0 + dy - 1) // dy
        if wp <= 0 or hp <= 0:
            continue
        raw += _png_filter_image(
            lambda i, j, c, _x0=x0, _y0=y0, _dx=dx, _dy=dy: pixel(
                _x0 + i * _dx, _y0 + j * _dy, c
            ),
            wp,
            hp,
        )
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 1)
    return (
        _PNG_MAGIC
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )


def _png7_pixel(seed: int, x: int, y: int, c: int) -> int:
    """Deterministic Adam7-corpus pixel, distinct constants from every
    other raster generator."""
    return (seed * 67 + y * 31 + x * 37 + c * 53) % 256


def synth_png_adam7(seed: int, width: int, height: int) -> bytes:
    return encode_png_adam7(
        width, height, lambda x, y, c: _png7_pixel(seed, x, y, c)
    )


# ---------------------------------------------------------------------------
# AIFF (Audio Interchange File Format) — big-endian PCM16 in IFF chunks.
# The parsing challenge unique to AIFF is the COMM chunk's sample rate:
# an 80-bit IEEE 754 EXTENDED float (1 sign + 15 exponent + 64 explicit
# mantissa bits). Real-world rates are integers, so both directions are
# pure integer bit math — no float rounding anywhere.
# ---------------------------------------------------------------------------


def _extended_from_int(value: int) -> bytes:
    """Encode a positive integer as an 80-bit IEEE extended float."""
    if value <= 0:
        raise ValueError("sample rate must be positive")
    bits = value.bit_length()
    exponent = 16383 + bits - 1
    mantissa = value << (64 - bits)  # explicit leading 1, no hidden bit
    return struct.pack(">HQ", exponent, mantissa)


def _extended_to_int(raw: bytes) -> int:
    """Decode an 80-bit IEEE extended float known to hold a positive
    integer (every real sample rate). Exact integer shifts only."""
    exponent, mantissa = struct.unpack(">HQ", raw)
    if exponent & 0x8000:
        raise ValueError("negative AIFF sample rate")
    shift = 63 - (exponent - 16383)
    if not 0 <= shift < 64:
        raise ValueError("non-integer AIFF sample rate")
    if mantissa & ((1 << shift) - 1):
        raise ValueError("non-integer AIFF sample rate")
    return mantissa >> shift


def encode_aiff(sample_rate: int, samples) -> bytes:
    """A real, to-spec mono PCM16 AIFF: FORM/AIFF container, COMM with
    the 80-bit extended sample rate, an odd-length ANNO chunk (so the
    IFF odd-size pad byte rule is exercised on every payload), SSND
    with big-endian samples."""
    data = b"".join(struct.pack(">h", s) for s in samples)
    comm = b"COMM" + struct.pack(
        ">IHIH", 18, 1, len(samples), 16
    ) + _extended_from_int(sample_rate)
    anno = b"anno!"  # 5 bytes — odd on purpose
    anno_chunk = b"ANNO" + struct.pack(">I", len(anno)) + anno + b"\x00"
    ssnd = b"SSND" + struct.pack(">III", 8 + len(data), 0, 0) + data
    body = b"AIFF" + comm + anno_chunk + ssnd
    return b"FORM" + struct.pack(">I", len(body)) + body


def decode_aiff(payload: bytes) -> dict:
    """Parse a mono PCM16 AIFF; exact integer amplitude statistics (the
    same feature shape as :func:`decode_wav` — AIFF is WAV's big-endian
    IFF sibling, and the decode dispatch discriminates on the FORM/AIFF
    magic). Walks chunks with the IFF odd-size pad rule; validates
    chunk sizes against the payload so truncation rejects cleanly."""
    if payload[:4] != b"FORM" or payload[8:12] != b"AIFF":
        raise ValueError("not an AIFF payload")
    pos, sample_rate, n_frames, data = 12, None, None, None
    while pos + 8 <= len(payload):
        cid, csize = struct.unpack_from(">4sI", payload, pos)
        if pos + 8 + csize > len(payload):
            raise ValueError("truncated AIFF chunk")
        body = payload[pos + 8 : pos + 8 + csize]
        if cid == b"COMM":
            if csize < 18:
                raise ValueError("truncated COMM chunk")
            channels, n_frames, bits = struct.unpack_from(">HIH", body, 0)
            if channels != 1 or bits != 16:
                raise ValueError("unsupported AIFF variant")
            sample_rate = _extended_to_int(body[8:18])
        elif cid == b"SSND":
            if csize < 8:
                raise ValueError("truncated SSND chunk")
            offset, _block = struct.unpack_from(">II", body, 0)
            data = body[8 + offset :]
        pos += 8 + csize + (csize & 1)
    if sample_rate is None or n_frames is None or data is None:
        raise ValueError("missing COMM/SSND chunk")
    if len(data) < 2 * n_frames:
        raise ValueError("SSND shorter than COMM frame count")
    samples = struct.unpack(f">{n_frames}h", data[: 2 * n_frames])
    return {
        "sample_rate": sample_rate,
        "n_samples": len(samples),
        "sum_abs": sum(abs(s) for s in samples),
        "n_nonneg": sum(1 for s in samples if s >= 0),
    }


def synth_aiff(seed: int, sample_rate: int, n_samples: int) -> bytes:
    """Deterministic AIFF: s_i = ((seed*17 + i*9) % 4001) - 2000."""
    return encode_aiff(
        sample_rate,
        [((seed * 17 + i * 9) % 4001) - 2000 for i in range(n_samples)],
    )


# ---------------------------------------------------------------------------
# ZIP archive (stored members) — ARCHIVE ingest: one payload explodes to
# many member rows, the container shape of crawl dumps and dataset drops.
# Members use method 0 (stored), so both directions are pure byte layout:
# local file headers, central directory, end-of-central-directory, with
# CRC-32 integrity checked on extract (zlib.crc32, stdlib).
# ---------------------------------------------------------------------------


def encode_zip_stored(members: list[tuple[str, bytes]]) -> bytes:
    """A real, to-spec ZIP with stored (uncompressed) members — local
    headers, central directory, EOCD. Fixed DOS timestamp (1980-01-01)
    keeps payloads bit-deterministic."""
    import zlib

    out = bytearray()
    central = bytearray()
    for name, data in members:
        nb = name.encode("utf-8")
        crc = zlib.crc32(data) & 0xFFFFFFFF
        offset = len(out)
        out += struct.pack(
            "<4sHHHHHIIIHH",
            b"PK\x03\x04", 20, 0, 0, 0, 0x21, crc,
            len(data), len(data), len(nb), 0,
        ) + nb + data
        central += struct.pack(
            "<4sHHHHHHIIIHHHHHII",
            b"PK\x01\x02", 20, 20, 0, 0, 0, 0x21, crc,
            len(data), len(data), len(nb), 0, 0, 0, 0, 0, offset,
        ) + nb
    cd_off = len(out)
    out += central
    out += struct.pack(
        "<4sHHHHIIH",
        b"PK\x05\x06", 0, 0, len(members), len(members),
        len(central), cd_off, 0,
    )
    return bytes(out)


def decode_zip_stored(payload: bytes) -> list[dict]:
    """Parse a stored-member ZIP via its central directory (the ONLY
    authoritative member list — appended/garbage local entries are
    invisible, exactly the property that makes ZIP ingest safe against
    concatenation junk) and extract each member through its local
    header, verifying the CRC-32. Returns one dict per member."""
    import zlib

    eocd = payload.rfind(b"PK\x05\x06")
    if eocd < 0 or eocd + 22 > len(payload):
        raise ValueError("no ZIP end-of-central-directory")
    (_, _, _, n_here, n_total, cd_size, cd_off, _clen) = struct.unpack_from(
        "<4sHHHHIIH", payload, eocd
    )
    if n_here != n_total:
        raise ValueError("multi-disk ZIP unsupported")
    members = []
    pos = cd_off
    for _ in range(n_total):
        if payload[pos : pos + 4] != b"PK\x01\x02":
            raise ValueError("corrupt central directory")
        (
            _sig, _vm, _vn, _flags, method, _t, _d, crc,
            csize, usize, nlen, xlen, clen2, _dn, _ia, _ea, offset,
        ) = struct.unpack_from("<4sHHHHHHIIIHHHHHII", payload, pos)
        if method != 0 or csize != usize:
            raise ValueError("unsupported ZIP compression method")
        name = payload[pos + 46 : pos + 46 + nlen].decode("utf-8")
        pos += 46 + nlen + xlen + clen2
        if payload[offset : offset + 4] != b"PK\x03\x04":
            raise ValueError("corrupt local header")
        lnlen, lxlen = struct.unpack_from("<HH", payload, offset + 26)
        start = offset + 30 + lnlen + lxlen
        # member data must live strictly BEFORE the central directory —
        # a range extending into [cd_off, eocd) is structurally malformed
        # (r11 ADVICE.md: reject it cleanly as structure, the same
        # discipline as the truncated-AIFF-chunk check, instead of
        # letting the CRC flag bytes read out of the directory region)
        if start + usize > cd_off:
            raise ValueError(
                "ZIP member data range extends into the central directory"
            )
        data = payload[start : start + usize]
        if len(data) != usize:
            raise ValueError("truncated ZIP member")
        if zlib.crc32(data) & 0xFFFFFFFF != crc:
            raise ValueError(f"CRC mismatch in member {name!r}")
        members.append(
            {
                "name": name,
                "n_bytes": usize,
                "byte_sum": sum(data),
            }
        )
    return members


def synth_zip(seed: int) -> bytes:
    """Deterministic archive: 2 + seed%3 members; member i carries
    16 + (seed+i)%23 bytes b_j = (seed*5 + i*11 + j*3) % 256."""
    members = []
    for i in range(2 + seed % 3):
        n = 16 + (seed + i) % 23
        members.append(
            (
                f"m{i}.bin",
                bytes((seed * 5 + i * 11 + j * 3) % 256 for j in range(n)),
            )
        )
    return encode_zip_stored(members)


def zip_archive_members(ids: DataFrame, id_col: str = "media_id") -> DataFrame:
    """Synthesize real ZIP payloads per id and EXPLODE each archive into
    member rows with integrity-checked byte statistics — the mapInPandas
    archive-ingest stage (crawl dumps arrive as containers; row count is
    member count, not payload count). Output: (media_id, member_idx,
    n_bytes, byte_sum)."""
    return _map_rows(
        ids,
        [id_col],
        lambda mid: [
            {"media_id": int(mid), "member_idx": i, **m}
            for i, m in enumerate(decode_zip_stored(synth_zip(int(mid))))
        ],
        "media_id long, member_idx long, n_bytes long, byte_sum long",
    )


# ---------------------------------------------------------------------------
# Animated GIF — multi-frame GIF89a with Graphic Control Extensions and a
# NETSCAPE looping block: the real-codec stand-in for VIDEO FRAME
# SAMPLING (MP4-class decode stays honestly stubbed — no av/ffmpeg in the
# container). Every frame here is a full-canvas replacement frame, so
# sampling frame k needs no disposal-method compositing.
# ---------------------------------------------------------------------------


def encode_gif_animated(
    width: int, height: int, n_frames: int, index_of
) -> bytes:
    """A real, to-spec animated GIF89a: logical screen + global color
    table, NETSCAPE2.0 loop extension, then per frame a Graphic Control
    Extension and a full-canvas image with REAL LZW indices.
    ``index_of(f, x, y)`` supplies the palette index per frame/pixel."""
    pal = _gif_palette()
    out = bytearray()
    out += b"GIF89a" + struct.pack("<HHBBB", width, height, 0xF7, 0, 0)
    out += b"".join(bytes(c) for c in pal)
    # NETSCAPE2.0 application extension: loop forever
    out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00"
    for f in range(n_frames):
        # GCE: disposal 1 (do not dispose), 4/100 s delay, no transparency
        out += b"\x21\xf9\x04\x04\x04\x00\x00\x00"
        out += b"\x2c" + struct.pack("<HHHHB", 0, 0, width, height, 0)
        indices = [
            index_of(f, x, y) & 0xFF
            for y in range(height)
            for x in range(width)
        ]
        lzw = _gif_lzw_encode(indices, 8)
        out.append(8)
        for i in range(0, len(lzw), 255):
            chunk = lzw[i : i + 255]
            out.append(len(chunk))
            out += chunk
        out.append(0)
    out += b"\x3b"
    return bytes(out)


def decode_gif_frames(payload: bytes, sample_every: int = 1) -> list[dict]:
    """Parse an animated GIF and return per-frame channel sums for every
    ``sample_every``-th frame — the frame-sampling primitive of a video
    curation pipeline (decode only the frames you keep; skipped frames
    still cost their LZW walk, which is the honest cost of a format
    without an index). Full-canvas, global-palette frames only; rejects
    interlace, local color tables, transparency-composited frames."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    if len(payload) < 13:
        raise ValueError("truncated GIF screen descriptor")
    sw, sh, flags, _bg, _ar = struct.unpack_from("<HHBBB", payload, 6)
    if not flags & 0x80:
        raise ValueError("unsupported GIF: no global color table")
    gct_n = 2 << (flags & 0x07)
    pos = 13
    if pos + 3 * gct_n > len(payload):
        raise ValueError("truncated GIF color table")
    pal = [tuple(payload[pos + 3 * i : pos + 3 * i + 3]) for i in range(gct_n)]
    pos += 3 * gct_n
    frames = []
    f = 0
    while pos < len(payload):
        b0 = payload[pos]
        if b0 == 0x3B:  # trailer
            break
        if b0 == 0x21:  # extension
            label = payload[pos + 1] if pos + 1 < len(payload) else 0
            if (
                label == 0xF9
                and pos + 3 < len(payload)
                and payload[pos + 3] & 0x01
            ):
                # GCE transparency flag: transparent-index pixels would
                # need background compositing — reject, never mis-sum
                raise ValueError("unsupported GIF: transparent frame")
            pos += 2
            while pos < len(payload) and payload[pos] != 0:
                pos += 1 + payload[pos]
            pos += 1
            continue
        if b0 != 0x2C:
            raise ValueError("unexpected GIF block")
        ix, iy, iw, ih, iflags = struct.unpack_from("<HHHHB", payload, pos + 1)
        if iflags & 0x40:
            raise ValueError("unsupported GIF: interlaced frame")
        if iflags & 0x80:
            raise ValueError("unsupported GIF: local color table")
        if (ix, iy, iw, ih) != (0, 0, sw, sh):
            raise ValueError("unsupported GIF: partial-canvas frame")
        pos += 10
        min_code = payload[pos]
        pos += 1
        lzw = bytearray()
        while pos < len(payload) and payload[pos] != 0:
            n = payload[pos]
            lzw += payload[pos + 1 : pos + 1 + n]
            pos += 1 + n
        pos += 1
        if f % sample_every == 0:
            idx = _gif_lzw_decode(bytes(lzw), min_code, iw * ih)
            sums = [0, 0, 0]
            for i in idx:
                if i >= len(pal):
                    raise ValueError("GIF pixel index outside color table")
                r, g, b = pal[i]
                sums[0] += r
                sums[1] += g
                sums[2] += b
            frames.append(
                {
                    "frame_idx": f,
                    "width": iw,
                    "height": ih,
                    "sum_r": sums[0],
                    "sum_g": sums[1],
                    "sum_b": sums[2],
                }
            )
        f += 1
    if not frames:
        raise ValueError("no GIF frames decoded")
    return frames


def _gif_anim_index(seed: int, f: int, x: int, y: int) -> int:
    """Deterministic palette index per frame/pixel."""
    return (seed * 41 + f * 19 + y * 29 + x * 13) % 256


def synth_gif_animated(seed: int, width: int, height: int, n_frames: int) -> bytes:
    """A real animated GIF89a; frame f pixel formula _gif_anim_index."""
    return encode_gif_animated(
        width,
        height,
        n_frames,
        lambda f, x, y: _gif_anim_index(seed, f, x, y),
    )


def gif_frame_samples(
    ids: DataFrame, sample_every: int, id_col: str = "media_id"
) -> DataFrame:
    """Synthesize animated GIFs per id and emit channel statistics for
    every ``sample_every``-th frame — one output row per SAMPLED frame
    (mapInPandas; payload bytes never visit the driver)."""

    def row(mid):
        mid = int(mid)
        w, h, nf = 6 + mid % 7, 5 + mid % 5, 3 + mid % 4
        payload = synth_gif_animated(mid, w, h, nf)
        return [
            {"media_id": mid, **fr}
            for fr in decode_gif_frames(payload, sample_every)
        ]

    return _map_rows(
        ids,
        [id_col],
        row,
        "media_id long, frame_idx long, width long, height long, "
        "sum_r long, sum_g long, sum_b long",
    )


# ---------------------------------------------------------------------------
# QOI ("Quite OK Image", qoiformat.org) — the 2022 public one-page spec:
# byte-aligned ops over a running 64-slot color index. A REAL modern
# format whose whole point is that a complete to-spec codec fits in a
# page — ideal for proving the op-level machinery (hash index, wrapping
# deltas, run packing) without a compression library.
# ---------------------------------------------------------------------------

_QOI_MAGIC = b"qoif"
_QOI_END = b"\x00" * 7 + b"\x01"


def _qoi_hash(r: int, g: int, b: int, a: int = 255) -> int:
    return (r * 3 + g * 5 + b * 7 + a * 11) % 64


def encode_qoi(width: int, height: int, pixel) -> bytes:
    """To-spec QOI encoder (RGB, channels=3) from a ``pixel(x, y, c)``
    accessor (c: 0=R, 1=G, 2=B). Greedy per the reference encoder: run,
    then index hit, then 2-bit DIFF, then LUMA, else full RGB — all
    deltas wrap mod 256 per spec."""
    out = bytearray(
        _QOI_MAGIC + struct.pack(">IIBB", width, height, 3, 0)
    )
    index = [(0, 0, 0)] * 64
    prev = (0, 0, 0)
    run = 0
    for p in range(width * height):
        x, y = p % width, p // width
        px = (pixel(x, y, 0), pixel(x, y, 1), pixel(x, y, 2))
        if px == prev:
            run += 1
            if run == 62:
                out.append(0xC0 | (run - 1))
                run = 0
            continue
        if run:
            out.append(0xC0 | (run - 1))
            run = 0
        h = _qoi_hash(*px)
        if index[h] == px:
            out.append(h)
        else:
            index[h] = px
            dr = (px[0] - prev[0] + 128) % 256 - 128
            dg = (px[1] - prev[1] + 128) % 256 - 128
            db = (px[2] - prev[2] + 128) % 256 - 128
            if -2 <= dr <= 1 and -2 <= dg <= 1 and -2 <= db <= 1:
                out.append(0x40 | ((dr + 2) << 4) | ((dg + 2) << 2) | (db + 2))
            elif (
                -32 <= dg <= 31
                and -8 <= dr - dg <= 7
                and -8 <= db - dg <= 7
            ):
                out.append(0x80 | (dg + 32))
                out.append(((dr - dg + 8) << 4) | (db - dg + 8))
            else:
                out += bytes((0xFE, px[0], px[1], px[2]))
        prev = px
    if run:
        out.append(0xC0 | (run - 1))
    out += _QOI_END
    return bytes(out)


def decode_qoi(payload: bytes) -> dict:
    """Parse a channels=3 QOI to exact per-channel sums: full op
    coverage (RGB, RGBA rejected by channel count at the header, INDEX,
    DIFF, LUMA, RUN), 64-slot index maintained per spec, wrapping
    arithmetic mod 256, end-marker and pixel-count both validated (a
    stream ending early OR a run overshooting w*h raises — structure,
    not silence)."""
    if payload[:4] != _QOI_MAGIC or len(payload) < 14 + 8:
        raise ValueError("not a QOI payload")
    width, height, channels, colorspace = struct.unpack_from(
        ">IIBB", payload, 4
    )
    if channels != 3:
        raise ValueError(f"unsupported QOI channel count {channels}")
    if colorspace not in (0, 1):
        raise ValueError(f"invalid QOI colorspace {colorspace}")
    if payload[-8:] != _QOI_END:
        raise ValueError("QOI end marker missing")
    end = len(payload) - 8
    pos = 14
    need = width * height
    index = [(0, 0, 0)] * 64
    r, g, b = 0, 0, 0
    got = 0
    sums = [0, 0, 0]
    while got < need:
        if pos >= end:
            raise ValueError("truncated QOI stream")
        op = payload[pos]
        pos += 1
        if op == 0xFE:  # QOI_OP_RGB
            if pos + 3 > end:
                raise ValueError("truncated QOI_OP_RGB")
            r, g, b = payload[pos], payload[pos + 1], payload[pos + 2]
            pos += 3
            reps = 1
        elif op == 0xFF:
            raise ValueError("QOI_OP_RGBA in a channels=3 stream")
        elif op >> 6 == 0b00:  # QOI_OP_INDEX
            r, g, b = index[op & 0x3F]
            reps = 1
        elif op >> 6 == 0b01:  # QOI_OP_DIFF
            r = (r + ((op >> 4) & 0x3) - 2) % 256
            g = (g + ((op >> 2) & 0x3) - 2) % 256
            b = (b + (op & 0x3) - 2) % 256
            reps = 1
        elif op >> 6 == 0b10:  # QOI_OP_LUMA
            if pos >= end:
                raise ValueError("truncated QOI_OP_LUMA")
            dg = (op & 0x3F) - 32
            second = payload[pos]
            pos += 1
            r = (r + dg + ((second >> 4) & 0xF) - 8) % 256
            g = (g + dg) % 256
            b = (b + dg + (second & 0xF) - 8) % 256
            reps = 1
        else:  # QOI_OP_RUN
            reps = (op & 0x3F) + 1
        if got + reps > need:
            raise ValueError("QOI run overshoots the pixel count")
        index[_qoi_hash(r, g, b)] = (r, g, b)
        sums[0] += r * reps
        sums[1] += g * reps
        sums[2] += b * reps
        got += reps
    if pos != end:
        raise ValueError("trailing bytes after the final QOI pixel")
    return {
        "width": width,
        "height": height,
        "sum_r": sums[0],
        "sum_g": sums[1],
        "sum_b": sums[2],
    }


def qoi_component(mid: int, p: int, c: int) -> int:
    """Channel c (0=R,1=G,2=B) of linear pixel p for media ``mid`` —
    a closed-form pattern that exercises EVERY QOI op in 7-pixel blocks:
    a block-constant head (RUN), a ±1 step (DIFF), a medium correlated
    step (LUMA), a revisit of the block base (INDEX while the slot
    survives), and a fresh base per block (RGB). Single source the
    encoder accessor wraps and the oracle SQL mirrors."""
    s, j = p // 7, p % 7
    r0 = (mid * 31 + s * 97) % 256
    g0 = (mid * 17 + s * 57) % 256
    b0 = (mid * 7 + s * 23) % 256
    if j <= 3 or j == 6:
        base = (r0, g0, b0)
    elif j == 4:
        base = ((r0 + 1) % 256, g0, (b0 + 255) % 256)
    else:  # j == 5
        base = ((r0 + 11) % 256, (g0 + 12) % 256, (b0 + 8) % 256)
    return base[c]


def synth_qoi(mid: int, width: int, height: int) -> bytes:
    return encode_qoi(
        width,
        height,
        lambda x, y, c, _m=mid, _w=width: qoi_component(_m, y * _w + x, c),
    )


# ---------------------------------------------------------------------------
# Synthetic media: ONE format table. Each entry states once the dims as a
# function of the media id (images: width, height; audio: sample rate and
# sample/frame count), the mime string and the generator call; the
# closed-form oracles in queries/multimodal_q.py mirror these formulas.
# ---------------------------------------------------------------------------

_MEDIA_FORMATS = {
    # fmt: (kind, mime, dims(mid), synth(mid, *dims) -> payload bytes)
    "bmp": ("image", "image/bmp", lambda m: (8 + m % 9, 6 + m % 7), synth_bmp),
    "wav": (
        "audio", "audio/wav", lambda m: (4000 + (m % 5) * 1000, 64 + m % 129), synth_wav,
    ),
    "rle8": (
        "image", "image/bmp", lambda m: (6 + m % 9, 5 + m % 6),
        lambda m, w, h: encode_bmp_rle8(w, h, lambda x, y: _rle8_index(m, x, y)),
    ),
    # >= 5 rows tall, so every PNG filter type appears
    "png": ("image", "image/png", lambda m: (5 + m % 8, 5 + m % 6), synth_png),
    # dims below 8 leave whole Adam7 passes empty — the degenerate shapes
    "png_adam7": (
        "image", "image/png", lambda m: (3 + m % 14, 2 + m % 13), synth_png_adam7,
    ),
    "gif": ("image", "image/gif", lambda m: (6 + m % 7, 4 + m % 5), synth_gif),
    "tiff": ("image", "image/tiff", lambda m: (4 + m % 6, 3 + m % 7), synth_tiff),
    "tiff_deflate": (
        "image", "image/tiff", lambda m: (4 + m % 6, 3 + m % 7), synth_tiff_deflate,
    ),
    # block-constant grayscale, dims multiples of 8 (see the JPEG section)
    "jpeg": (
        "image", "image/jpeg", lambda m: (8 * (1 + m % 3), 8 * (1 + m % 2)), synth_jpeg,
    ),
    "ppm": (
        "image", "image/x-portable-pixmap", lambda m: (7 + m % 9, 5 + m % 6), synth_ppm,
    ),
    "pgm": (
        "image", "image/x-portable-graymap", lambda m: (6 + m % 8, 4 + m % 7), synth_pgm,
    ),
    "tga": ("image", "image/x-tga", lambda m: (6 + m % 10, 5 + m % 8), synth_tga),
    "ico": (
        "image", "image/vnd.microsoft.icon", lambda m: (5 + m % 12, 4 + m % 9), synth_ico,
    ),
    "qoi": ("image", "image/qoi", lambda m: (7 + m % 9, 4 + m % 7), synth_qoi),
    # the 8 kHz telephony rate
    "mulaw": ("audio", "audio/basic", lambda m: (8000, 48 + m % 97), synth_wav_mulaw),
    "stereo": ("audio", "audio/wav", lambda m: (16000, 40 + m % 77), synth_wav_stereo),
    # 11025/22050/33075: three distinct 80-bit extended rate encodings
    "aiff": (
        "audio", "audio/aiff", lambda m: (11025 * (1 + m % 3), 52 + m % 83), synth_aiff,
    ),
}

# Mixed tables: even ids take the first format, odd ids the second.
_MIXED_FORMATS = {"real": ("bmp", "wav"), "netpbm": ("ppm", "pgm")}


def _format_of(fmt: str, mid: int) -> tuple:
    """The ``_MEDIA_FORMATS`` entry id ``mid`` takes in a ``fmt`` table."""
    return _MEDIA_FORMATS[_MIXED_FORMATS.get(fmt, (fmt, fmt))[mid % 2]]


def _media_row(fmt: str, mid: int) -> dict:
    """:func:`synthesize_media`'s row for id ``mid``: the payload and its
    typed ``meta``, both from the format table."""
    kind, mime, dims, synth = _format_of(fmt, mid)
    a, b = dims(mid)
    meta = dict.fromkeys(MEDIA_META_TYPE.names)
    meta.update(kind=kind, mime=mime)
    if kind == "image":
        meta.update(width=a, height=b)
    else:
        meta.update(sample_rate=a, duration_ms=1000 * b // a)
    return {"media_id": mid, "payload": synth(mid, a, b), "meta": meta}


def synthesize_media(ids: DataFrame, fmt: str, id_col: str = "media_id") -> DataFrame:
    """Materialize a ``MEDIA_SCHEMA`` table of REAL ``fmt`` payloads, one
    per id, dims a function of the id (``_MEDIA_FORMATS``). ``"real"``
    mixes 24-bit BMPs on even ids with PCM16 WAVs on odd ids; ``"netpbm"``
    P6 PPMs with P5 PGMs. Distributed via :func:`_map_rows`; payload bytes
    never visit the driver."""
    if fmt not in _MEDIA_FORMATS and fmt not in _MIXED_FORMATS:
        raise ValueError(f"unknown media format {fmt!r}")
    return _map_rows(
        ids, [id_col], lambda mid: [_media_row(fmt, int(mid))], MEDIA_SCHEMA
    )
