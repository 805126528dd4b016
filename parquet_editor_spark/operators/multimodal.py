"""Multimodal column plumbing (SURVEY.md §2.7, north star): treat
image/audio/video payloads as opaque ``binary`` columns with typed
metadata, and run decode / feature-extract / resize / frame-sample as
Arrow-batched ``mapInPandas`` operators.

Every Python-worker operator here has one of three shapes, and each
shape is one module-private helper that owns the schema, the batch
loop, the per-row codec and the null-payload rule:

- ``_map_columns`` — columns per payload: each row keeps its columns
  and gains new ones computed from ``(payload bytes, codec)``; a null
  payload gives nulls (``decode_meta``, ``resize_images``, ...).
- ``_map_records`` — records per payload: one row becomes 0..n rows,
  the carried columns repeated on each; a null payload gives exactly
  one all-null row (archive, document, frame and segment walks).
- ``_pack_shards`` — one payload per shard: ``groupBy(shard)`` →
  sort by the order column → serialize → (shard, count, bytes,
  payload) (the WebDataset / TFRecord / Arrow IPC / parquet exports).

The per-row codec comes from ``meta.codec``.  Each modality decodes
through one seam: ``_decode_real`` (image dimensions),
``_decode_pixels`` (image pixels), ``_video_pixel_frames`` (video
pixels) and ``_decode_audio_samples`` (audio samples).  The operators
keep only their ``fake`` branch and what they compute from the decoded
values.

The container has no image/audio libraries, so decode runs on two
paths, dispatched per row on ``meta.codec``:

- ``codec="png"`` — REAL end-to-end decode/resize via the
  dependency-free PNG codec in ``sources/png.py`` (chunk framing, CRC,
  IDAT inflate, all five scanline filters, nearest-neighbor resample,
  re-encode).
- ``codec="jpeg"``/``"jpg"`` — REAL on two tiers: ``decode_meta``
  stays the O(header) SOF marker walk (``sources/jpeg.py``, r8 —
  dimensions never need entropy decode), while ``resize_images`` and
  ``image_pixel_stats`` run the full pixel codec
  (``sources/jpeg_codec.py``, r9 — baseline SOF0 AND progressive
  SOF2 with spectral selection + successive approximation;
  stream-supplied Huffman/quant tables, numpy einsum IDCT,
  4:4:4/4:2:0, restart markers).  Arithmetic/lossless/hierarchical
  streams still raise.
- ``codec="fake"`` — the deterministic fake retained for every other
  format: exercises the real Spark plumbing (binary Arrow transfer,
  batch iteration, array-column schemas, explode for frame sampling)
  without pretending to decode pixels.
- anything else — a clearly-marked ``NotImplementedError``; swapping
  in PIL/ffmpeg later changes ONLY the decode seam of that modality
  (``_decode_real`` for image dimensions).

Worker-side note: the worker bodies are nested functions, pickled by
value, but the real codecs import ``parquet_editor_spark.sources``
(and the helpers and seams of this module) on the worker, so the
package must be shipped to executors (``--py-files`` / pex / cluster
image) — the standard requirement for any real codec dependency, and
automatic in local mode.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: metadata schema every payload row carries alongside the bytes
MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("media_type", T.StringType(), False),  # image|audio|video
        T.StructField("codec", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("checksum", T.StringType(), False),  # md5 hex
    ]
)


def attach_payload(
    df: DataFrame,
    source_col: str,
    media_type: str = "image",
    codec: str | Column = "fake",
) -> DataFrame:
    """Wrap a source column's bytes as an opaque media payload +
    typed metadata. A string source is UTF-8 encoded; an
    already-binary source (e.g. the ``binaryFile`` scan's ``content``)
    passes through untouched. ``encode`` is a JVM expression; the
    checksum is md5 over the payload bytes (portable: Spark, DuckDB,
    hashlib all agree).  ``codec`` is a literal or a per-row Column
    (e.g. a format column)."""
    already_binary = isinstance(
        df.schema[source_col].dataType, T.BinaryType
    )
    payload = (
        F.col(source_col)
        if already_binary
        else F.encode(F.col(source_col), "UTF-8")
    )
    return df.withColumn("payload", payload).withColumn(
        "meta",
        F.struct(
            F.lit(media_type).alias("media_type"),
            F.lit(codec).alias("codec"),
            F.octet_length(payload).cast("long").alias("n_bytes"),
            F.md5(payload).alias("checksum"),
        ),
    )


def _is_meta(df: DataFrame, col: str | None) -> bool:
    """True when ``col`` is a struct column of ``df`` (the ``meta``
    struct that :func:`attach_payload` builds)."""
    return col in df.columns and isinstance(
        df.schema[col].dataType, T.StructType
    )


def _row_codecs(df: DataFrame, codec_col: str | None, default: str):
    """The per-row codec of a pandas batch, read on the worker.
    ``codec_col`` is the ``meta`` struct (its ``codec`` field) or a
    plain string column (read as is); a null ``meta`` struct, or a
    frame without ``codec_col``, reads ``default``."""
    if codec_col not in df.columns:
        return lambda pdf: [default] * len(pdf)
    if _is_meta(df, codec_col):
        return lambda pdf: [
            default if m is None else m["codec"] for m in pdf[codec_col]
        ]
    return lambda pdf: list(pdf[codec_col])


def _map_columns(
    df: DataFrame,
    payload_col: str,
    fields: list[T.StructField],
    per_payload,
    codec_col: str | None = None,
    null: tuple = (),
) -> DataFrame:
    """Columns per payload: every row keeps its columns and gains
    ``fields``, one value each from ``per_payload(payload bytes,
    codec)``.  A field replaces the column of its name, which moves to
    the end (``resize_images`` replaces the payload).  A null payload
    gives ``null`` (all None by default) without a call."""
    codecs = _row_codecs(df, codec_col, "fake")
    names = [f.name for f in fields]
    replaced = [c for c in df.columns if c in names]
    out_schema = T.StructType(
        [f for f in df.schema.fields if f.name not in names] + fields
    )
    null_row = null or (None,) * len(names)

    def run(batches):
        for pdf in batches:
            vals = [
                null_row if p is None else per_payload(bytes(p), c)
                for p, c in zip(pdf[payload_col], codecs(pdf))
            ]
            pdf = pdf.drop(columns=replaced)
            for i, name in enumerate(names):
                pdf[name] = [v[i] for v in vals]
            yield pdf

    return df.mapInPandas(run, schema=out_schema)


def _map_records(
    df: DataFrame,
    payload_col: str,
    fields: list[T.StructField],
    per_payload,
    codec_col: str | None = None,
    default_codec: str = "fake",
) -> DataFrame:
    """Records per payload: every row becomes one row per record that
    ``per_payload(payload bytes, codec)`` yields (one value per
    field), its other columns repeated on each.  The payload and its
    ``meta`` struct (it describes the bytes the records replace) are
    not carried; a plain codec column is.  A null payload gives
    exactly one row whose ``fields`` are all null."""
    codecs = _row_codecs(df, codec_col, default_codec)
    gone = (payload_col, codec_col if _is_meta(df, codec_col) else None)
    keep = [f for f in df.schema.fields if f.name not in gone]
    keep_names = [f.name for f in keep]
    out_names = keep_names + [f.name for f in fields]
    null_rec = (None,) * len(fields)

    def run(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            carried = [pdf[c] for c in keep_names]
            for p, codec, *base in zip(
                pdf[payload_col], codecs(pdf), *carried
            ):
                recs = (
                    [null_rec] if p is None else per_payload(bytes(p), codec)
                )
                rows.extend(base + list(r) for r in recs)
            yield pd.DataFrame(rows, columns=out_names)

    return df.mapInPandas(run, schema=T.StructType(keep + fields))


def _pack_shards(
    df: DataFrame, shard_col: str, order_col: str, count_col: str, serialize
) -> DataFrame:
    """One payload per shard: ``groupBy(shard_col)``, each group sorted
    (stably) by ``order_col`` and turned into bytes by
    ``serialize(pdf)``; one row per shard: the shard id, the group's
    row count as ``count_col``, ``shard_bytes`` and ``payload``."""
    out_schema = T.StructType(
        [
            df.schema[shard_col],
            T.StructField(count_col, T.IntegerType(), False),
            T.StructField("shard_bytes", T.LongType(), False),
            T.StructField("payload", T.BinaryType(), False),
        ]
    )

    def pack(pdf):
        import pandas as pd

        pdf = pdf.sort_values(order_col, kind="mergesort")
        payload = serialize(pdf)
        return pd.DataFrame(
            [
                {
                    shard_col: pdf[shard_col].iloc[0],
                    count_col: len(pdf),
                    "shard_bytes": len(payload),
                    "payload": payload,
                }
            ]
        )

    return df.groupBy(shard_col).applyInPandas(pack, schema=out_schema)


def _decode_real(payload: bytes, codec: str):
    """The real decoder seam: image dimensions per codec, the
    dispatch behind ``decode_meta``.  Formats without a
    dependency-free decoder fail loudly rather than fabricating
    pixels."""
    if codec == "png":
        from parquet_editor_spark.sources.png import decode_png

        w, h, ch, _ = decode_png(payload)
        return w, h, ch
    if codec in ("jpeg", "jpg"):
        # dimensions come from the O(header) SOF walk; the pixel
        # codec (sources/jpeg_codec.py) runs in the pixel-level stages
        from parquet_editor_spark.sources.jpeg import jpeg_header_meta

        return jpeg_header_meta(payload)
    if codec == "gif":
        from parquet_editor_spark.sources.gif import gif_meta

        w, h, _frames = gif_meta(payload)
        return w, h, 3
    if codec == "bmp":
        from parquet_editor_spark.sources.bmp import bmp_meta

        return bmp_meta(payload)
    if codec in ("tiff", "tif"):
        from parquet_editor_spark.sources.tiff import tiff_meta

        return tiff_meta(payload)
    if codec == "webp":
        from parquet_editor_spark.sources.webp import webp_meta

        return webp_meta(payload)
    raise NotImplementedError(
        f"decode for codec {codec!r} requires PIL/ffmpeg; not available "
        "in this environment — use the built-in codecs (png, jpeg, "
        "gif, bmp, tiff, webp) or codec='fake' for pipeline testing"
    )


def decode_meta(
    df: DataFrame, payload_col: str = "payload", meta_col: str = "meta"
) -> DataFrame:
    """Decode stage: payload → (width, height, channels) metadata.
    Arrow-batched; bytes never leave the executor.  Rows whose
    ``meta.codec`` is ``"png"`` decode for real; ``"jpeg"``/``"jpg"``
    rows read the SOF frame header (sources/jpeg.py — dimensions
    never need entropy decode; the pixel-level stages run the full
    codec); ``"gif"`` rows use the frame walk (``gif_meta`` — no LZW
    work for dimensions) and ``"bmp"`` the O(1) header read (r9);
    ``"fake"`` rows use the deterministic fake; other codecs raise
    (failing the task, not fabricating pixels).  A frame without
    ``meta`` decodes as fake."""

    def dims(p: bytes, codec: str):
        # the fake path stays self-contained (nested defs ship by
        # value); the real codecs import the package on the worker —
        # ship it via --py-files/pex in a cluster deployment
        if codec == "fake":
            import hashlib as _h

            d = _h.md5(p).digest()
            return 16 + d[0] % 1024, 16 + d[1] % 1024, 1 + d[2] % 4
        return _decode_real(p, codec)

    return _map_columns(
        df,
        payload_col,
        [
            T.StructField("width", T.IntegerType(), True),
            T.StructField("height", T.IntegerType(), True),
            T.StructField("channels", T.IntegerType(), True),
        ],
        dims,
        meta_col,
    )


def extract_features(
    df: DataFrame, payload_col: str = "payload", dim: int = 16
) -> DataFrame:
    """Feature-extraction stage: payload → float vector. Deterministic
    fake features (md5-seeded), but the batch shape, Arrow transfer
    and ``array<float>`` output schema are the production path — a
    real CNN/CLIP encoder drops into ``featurize`` unchanged."""

    def featurize(p: bytes, _codec: str):
        import hashlib as _h

        # bytes([i]) only accepts 0-255; wider dims use a 2-byte
        # index suffix (identical values for i < 256 — the oracle
        # contract — and valid, distinct ones beyond)
        def sfx(i: int) -> bytes:
            return bytes([i]) if i < 256 else i.to_bytes(2, "big")

        raw = (_h.md5(p + sfx(i)).digest()[0] for i in range(dim))
        return ([round(b / 255.0, 6) for b in raw],)

    return _map_columns(
        df,
        payload_col,
        [T.StructField("features", T.ArrayType(T.FloatType()), True)],
        featurize,
    )


def resize_images(
    df: DataFrame,
    payload_col: str = "payload",
    target_w: int = 224,
    target_h: int = 224,
    meta_col: str = "meta",
) -> DataFrame:
    """Resize stage: payload → resized payload + target dimensions —
    the preprocessing step between ingestion and the encoder.

    ``meta.codec == "png"`` rows resize for REAL: decode (CRC-checked
    inflate + unfilter), nearest-neighbor resample, re-encode — the
    output payload is a valid PNG of the target box.  ``"fake"`` rows
    keep the clearly-marked deterministic fake (digest of payload +
    target box); other codecs raise.

    Scale shape: pure mapInPandas projection — no shuffle, bytes never
    cross to the driver, output partitioning inherits the scan."""

    def encoder(codec: str):
        # checked before the decode: a codec without an encoder (tiff)
        # raises here, whatever its bytes
        if codec == "png":
            from parquet_editor_spark.sources.png import encode_png

            return encode_png
        if codec in ("jpeg", "jpg"):
            # REAL since r9: baseline re-encode (sources/jpeg_codec.py);
            # gray and RGB only (a 2/4-channel frame was never a JPEG)
            from parquet_editor_spark.sources.jpeg_codec import (
                encode_jpeg_baseline,
            )

            return encode_jpeg_baseline
        if codec == "gif":
            # nearest-neighbor keeps the palette closed (it only
            # samples existing pixels), so re-encode cannot exceed
            # the 256-color fixture bound
            from parquet_editor_spark.sources.gif import encode_gif

            return encode_gif
        if codec == "bmp":
            from parquet_editor_spark.sources.bmp import encode_bmp

            return encode_bmp
        raise NotImplementedError(
            f"resize for codec {codec!r} requires PIL/ffmpeg"
        )

    def shrink(p: bytes, codec: str) -> bytes:
        if codec == "fake":
            import hashlib as _h

            return _h.md5(p + f"{target_w}x{target_h}".encode()).digest()
        from parquet_editor_spark.sources.png import resize_nearest

        encode = encoder(codec)
        w, h, ch, pix = _decode_pixels(p, codec, "resize")
        return encode(
            target_w,
            target_h,
            ch,
            resize_nearest(pix, w, h, ch, target_w, target_h),
        )

    return _map_columns(
        df,
        payload_col,
        [
            T.StructField(payload_col, T.BinaryType(), True),
            T.StructField("width", T.IntegerType(), True),
            T.StructField("height", T.IntegerType(), True),
        ],
        lambda p, codec: (shrink(p, codec), target_w, target_h),
        meta_col,
        null=(None, target_w, target_h),
    )


def _decode_pixels(
    p: bytes, codec: str, what: str
) -> tuple[int, int, int, bytes]:
    """Shared pixel-level decode dispatch for the five real image
    codecs (PNG inflate+unfilter, baseline+progressive JPEG,
    GIF-LZW, BMP, striped TIFF none/PackBits/LZW) → (width, height,
    channels, row-major u8 samples).  Unknown codecs raise — failing
    ``what``, never fabricating pixels."""
    if codec == "png":
        from parquet_editor_spark.sources.png import decode_png

        return decode_png(p)
    if codec in ("jpeg", "jpg"):
        from parquet_editor_spark.sources.jpeg_codec import decode_jpeg

        return decode_jpeg(p)
    if codec == "gif":
        from parquet_editor_spark.sources.gif import decode_gif

        return decode_gif(p)
    if codec == "bmp":
        from parquet_editor_spark.sources.bmp import decode_bmp

        return decode_bmp(p)
    if codec in ("tiff", "tif"):
        from parquet_editor_spark.sources.tiff import decode_tiff

        return decode_tiff(p)
    raise NotImplementedError(
        f"{what} for codec {codec!r} requires PIL/ffmpeg; built-in "
        "pixel support is png, jpeg, gif, bmp, tiff"
    )


def image_pixel_stats(
    df: DataFrame, payload_col: str = "payload", meta_col: str = "meta"
) -> DataFrame:
    """Pixel-statistics stage: payload → (width, height, channels,
    px_min, px_max, px_sum, n_px) — the integer-exact inputs a
    curation pipeline filters on (all-black frames, blown-out scans,
    brightness bands).  ``"png"`` and (since r9) ``"jpeg"``/``"jpg"``
    rows decode for REAL — baseline sequential JPEG through the
    dependency-free Huffman+IDCT codec (``sources/jpeg_codec.py``);
    ``"fake"`` rows derive stats from the digest; other codecs raise.
    Sums are int64 so every engine agrees bit-for-bit (no float mean).

    Scale shape: pure Arrow ``mapInPandas`` projection — bytes stay on
    the executors, partitioning inherits the scan."""

    def stats(p: bytes, codec: str):
        import numpy as _np

        if codec == "fake":
            import hashlib as _h

            d = _h.md5(p).digest()
            w, h, ch = 16 + d[0] % 1024, 16 + d[1] % 1024, 1 + d[2] % 4
            v = d[3]
            return (w, h, ch, v, v, v * w * h * ch, w * h * ch)
        w, h, ch, pix = _decode_pixels(p, codec, "pixel stats")
        a = _np.frombuffer(pix, dtype=_np.uint8)
        return (
            w,
            h,
            ch,
            int(a.min()),
            int(a.max()),
            int(a.astype(_np.int64).sum()),
            int(a.size),
        )

    return _map_columns(
        df,
        payload_col,
        [
            T.StructField("width", T.IntegerType(), True),
            T.StructField("height", T.IntegerType(), True),
            T.StructField("channels", T.IntegerType(), True),
            T.StructField("px_min", T.IntegerType(), True),
            T.StructField("px_max", T.IntegerType(), True),
            T.StructField("px_sum", T.LongType(), True),
            T.StructField("n_px", T.LongType(), True),
        ],
        stats,
        meta_col,
    )


def sample_frames(
    df: DataFrame, payload_col: str = "payload", n_frames: int = 4
) -> DataFrame:
    """Frame-sampling stage (video): one payload row → n frame rows.
    Deterministic fake frame checksums; the explode shape (row
    multiplication inside the executor, no driver round-trip) is the
    real thing."""
    if n_frames < 1:
        # sequence(0, -1) DESCENDS and would fabricate frames 0 and -1
        raise ValueError(f"n_frames must be >= 1, got {n_frames}")
    frames = F.transform(
        F.sequence(F.lit(0), F.lit(n_frames - 1)),
        lambda i: F.struct(
            i.cast("int").alias("frame_idx"),
            F.md5(F.concat(F.col(payload_col), i.cast("string").cast("binary"))).alias(
                "frame_checksum"
            ),
        ),
    )
    return df.withColumn("frame", F.explode(frames)).select(
        *df.columns, "frame.frame_idx", "frame.frame_checksum"
    )


def audio_meta(
    df: DataFrame, payload_col: str = "payload", meta_col: str = "meta"
) -> DataFrame:
    """Audio decode stage: payload → (sample_rate, channels, n_frames,
    duration_ms).  ``meta.codec == "wav"`` rows decode for REAL via the
    dependency-free RIFF/PCM codec (``sources/wav.py``); ``"flac"``
    rows read the STREAMINFO block (``sources/flac.py`` — the spec's
    mandatory first metadata block carries rate/channels/total
    samples, no libFLAC needed; r8); ``"mp3"`` rows walk every
    Layer III frame header (``sources/mp3.py``, r9 — O(#frames)
    header bytes, payloads skipped by declared size, ID3 tags
    tolerated); ``"ogg"``/``"opus"``/``"vorbis"`` rows walk the Ogg
    pages with CRC verification and read the Opus/Vorbis id header +
    last granule position (``sources/ogg.py``, r9 — Opus reports the
    canonical 48 kHz decode rate, RFC 7845 §4); ``"fake"`` rows use a
    deterministic digest-derived fake; other codecs raise.
    duration_ms is integer floor millis — engine-portable arithmetic.

    Scale shape: pure Arrow ``mapInPandas`` projection, bytes stay on
    the executors, partitioning inherits the scan."""

    def meta_of(p: bytes, codec: str):
        if codec == "wav":
            from parquet_editor_spark.sources.wav import decode_wav

            rate, ch, _bits, n, _ = decode_wav(p)
            return (rate, ch, n, n * 1000 // rate)
        if codec == "flac":
            from parquet_editor_spark.sources.flac import flac_stream_info

            rate, ch, _bits, n = flac_stream_info(p)
            return (rate, ch, n, n * 1000 // rate)
        if codec == "mp3":
            from parquet_editor_spark.sources.mp3 import mp3_stream_info

            rate, ch, n, _frames, _kbps = mp3_stream_info(p)
            return (rate, ch, n, n * 1000 // rate)
        if codec in ("ogg", "opus", "vorbis"):
            from parquet_editor_spark.sources.ogg import ogg_stream_info

            _codec, rate, ch, n = ogg_stream_info(p)
            return (rate, ch, n, n * 1000 // rate)
        if codec == "fake":
            import hashlib as _h

            d = _h.md5(p).digest()
            rate = 8000 * (1 + d[0] % 6)
            ch = 1 + d[1] % 2
            n = 1 + int.from_bytes(d[2:5], "big") % 100000
            return (rate, ch, n, n * 1000 // rate)
        raise NotImplementedError(
            f"audio decode for codec {codec!r} requires a real "
            "audio library"
        )

    return _map_columns(
        df,
        payload_col,
        [
            T.StructField("sample_rate", T.IntegerType(), True),
            T.StructField("channels", T.IntegerType(), True),
            T.StructField("n_frames", T.LongType(), True),
            T.StructField("duration_ms", T.LongType(), True),
        ],
        meta_of,
        meta_col,
    )


def video_meta(
    df: DataFrame, payload_col: str = "payload", meta_col: str = "meta"
) -> DataFrame:
    """Video container metadata: payload → (duration_ms, n_tracks,
    width, height).  ``meta.codec == "mp4"`` rows walk the ISO-BMFF
    box tree (``sources/mp4.py`` — mvhd duration/timescale, trak
    count, tkhd 16.16 dims; ``mdat`` skipped by declared size, so
    media bytes are never parsed; r8); ``"avi"`` rows walk the RIFF
    chunk tree (``sources/avi.py``, r9 — avih dims/stream count,
    video strh scale/rate for an exact rational duration, ``movi``
    skipped by declared size); ``"y4m"`` rows parse the YUV4MPEG2
    header + frame count for a real duration; ``"fake"`` rows use
    the digest fake; other codecs raise — sample decode belongs to
    ffmpeg.

    Scale shape: pure Arrow ``mapInPandas`` projection, bytes stay on
    the executors, partitioning inherits the scan."""

    def meta_of(p: bytes, codec: str):
        if codec == "mp4":
            from parquet_editor_spark.sources.mp4 import mp4_meta

            dur, _scale, n_tracks, w, h = mp4_meta(p)
            return (dur, n_tracks, w, h)
        if codec == "avi":
            from parquet_editor_spark.sources.avi import avi_meta

            dur, n_streams, w, h, _n = avi_meta(p)
            return (dur, n_streams, w, h)
        if codec == "y4m":
            from parquet_editor_spark.sources.y4m import decode_y4m

            w, h, num, den, _cs, frames = decode_y4m(p)
            return (len(frames) * 1000 * den // num, 1, w, h)
        if codec == "fake":
            import hashlib as _h

            d = _h.md5(p).digest()
            return (
                1 + int.from_bytes(d[0:3], "big") % 3_600_000,
                1 + d[3] % 3,
                16 + d[4] % 1024,
                16 + d[5] % 1024,
            )
        raise NotImplementedError(
            f"video metadata for codec {codec!r} requires ffmpeg"
        )

    return _map_columns(
        df,
        payload_col,
        [
            T.StructField("duration_ms", T.LongType(), True),
            T.StructField("n_tracks", T.IntegerType(), True),
            T.StructField("width", T.IntegerType(), True),
            T.StructField("height", T.IntegerType(), True),
        ],
        meta_of,
        meta_col,
    )


def resample_audio(
    df: DataFrame,
    target_rate: int,
    payload_col: str = "payload",
    meta_col: str = "meta",
) -> DataFrame:
    """Resample stage: payload → payload re-encoded at ``target_rate``
    (nearest-neighbor frame mapping — deterministic, no filter design).
    ``"wav"`` rows resample for REAL (output is a valid WAV at the
    target rate); ``"flac"`` rows decode through the full pure-numpy
    FLAC codec and re-encode as FLAC at the target rate
    (``sources/flac_codec.py``, r9 — lossless, so the only change is
    the frame mapping); ``"fake"`` rows keep the digest fake; others
    raise."""
    if target_rate < 1:
        raise ValueError(f"target_rate must be >= 1, got {target_rate}")

    def shrink(p: bytes, codec: str) -> bytes:
        if codec == "wav":
            from parquet_editor_spark.sources import wav as _wav

            # decode_wav_ex keeps the fmt tag so a float WAV
            # re-encodes as float (not mislabeled int PCM) and a
            # compressed WAV re-encodes in its OWN format — every
            # decodable tag has a matching encoder since r9
            rate, ch, bits, n, frames, tag = _wav.decode_wav_ex(p)
            tgt_n = max(1, n * target_rate // rate)
            res = _wav.resample_nearest(frames, ch, bits, n, tgt_n)
            if tag == _wav.IMA_ADPCM:
                return _wav.encode_wav_adpcm(target_rate, ch, res)
            if tag == _wav.MS_ADPCM:
                return _wav.encode_wav_ms_adpcm(target_rate, ch, res)
            if tag in (_wav.ALAW, _wav.MULAW):
                return _wav.encode_wav_g711(
                    target_rate, ch, res,
                    law="a" if tag == _wav.ALAW else "mu",
                )
            return _wav.encode_wav(target_rate, ch, bits, res, fmt_tag=tag)
        if codec == "flac":
            import numpy as np

            from parquet_editor_spark.sources import flac_codec as FC

            rate, ch, bits, n, samples = FC.decode_flac(p)
            tgt_n = max(1, n * target_rate // rate) if n else 0
            idx = (
                (np.arange(tgt_n, dtype=np.int64) * n) // tgt_n
                if tgt_n
                else np.zeros(0, np.int64)
            )
            return FC.encode_flac(target_rate, ch, bits, samples[idx])
        if codec == "fake":
            import hashlib as _h

            return _h.md5(p + f"@{target_rate}".encode()).digest()
        raise NotImplementedError(
            f"audio resample for codec {codec!r} requires a real "
            "audio library"
        )

    return _map_columns(
        df,
        payload_col,
        [
            T.StructField(payload_col, T.BinaryType(), True),
            T.StructField("sample_rate", T.IntegerType(), True),
        ],
        lambda p, codec: (shrink(p, codec), target_rate),
        meta_col,
        null=(None, target_rate),
    )


def sample_frames_video(
    df: DataFrame,
    k: int = 4,
    payload_col: str = "payload",
    meta_col: str = "meta",
) -> DataFrame:
    """REAL frame sampling for video payloads: decode the container,
    pick k evenly-spaced frames (nearest convention shared with the
    PNG/WAV resamplers), and emit one row per sampled frame with the
    frame's true index, the clip's frame count/dimensions, and the md5
    of the REAL frame bytes.  ``meta.codec == "y4m"`` decodes via the
    dependency-free YUV4MPEG2 codec (``sources/y4m.py``); ``"mp4"``
    (r9) samples via the container's sample tables — the checksum
    covers the coded sample's true byte range, the honest unit of
    work to hand an ffmpeg/GPU decode stage; other compressed codecs
    raise.  The JVM-expression fake for non-video payloads stays in
    :func:`sample_frames`.

    Scale shape: row multiplication happens INSIDE the executor
    (one input row → ≤k output rows per mapInPandas batch); frame
    bytes never leave the worker — only 32-hex checksums do."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")

    def frames(p: bytes, codec: str):
        import hashlib as _h

        from parquet_editor_spark.sources.y4m import sample_frame_indices

        if codec == "mp4":
            # sample tables give the frames' true byte ranges; the
            # checksum covers the CODED sample bytes (no H.26x pixel
            # decode — that belongs to ffmpeg on exactly these sampled
            # ranges)
            from parquet_editor_spark.sources.mp4 import (
                mp4_meta,
                mp4_sample_index,
            )

            ix = mp4_sample_index(p)
            _d, _ts, _nt, w, h = mp4_meta(p)
            n = ix["n_samples"]

            def frame(i):
                off = int(ix["offset"][i])
                return p[off : off + int(ix["size"][i])]

        elif codec == "avi":
            # like mp4: the checksum covers the coded frame chunk (a
            # complete JPEG for MJPEG files) — the pixel-level stage
            # is video_frame_stats
            from parquet_editor_spark.sources.avi import (
                avi_meta,
                avi_video_chunks,
            )

            chunks = avi_video_chunks(p)
            _d, _ns, w, h, _n = avi_meta(p)
            n = len(chunks)

            def frame(i):
                off, sz = chunks[i]
                return p[off : off + sz]

        elif codec == "y4m":
            from parquet_editor_spark.sources.y4m import decode_y4m

            w, h, _n, _d, _cs, raw = decode_y4m(p)
            n = len(raw)
            frame = raw.__getitem__
        else:
            raise NotImplementedError(
                f"frame extraction for codec {codec!r} requires "
                "ffmpeg; built-in support is y4m/mp4/avi"
            )
        return [
            (i, n, w, h, _h.md5(frame(i)).hexdigest())
            for i in sample_frame_indices(n, k)
        ]

    return _map_records(
        df,
        payload_col,
        [
            T.StructField("frame_idx", T.IntegerType(), True),
            T.StructField("n_frames", T.IntegerType(), True),
            T.StructField("frame_w", T.IntegerType(), True),
            T.StructField("frame_h", T.IntegerType(), True),
            T.StructField("frame_checksum", T.StringType(), True),
        ],
        frames,
        meta_col,
    )


def video_frame_index(
    df: DataFrame,
    keyframes_only: bool = False,
    payload_col: str = "payload",
    meta_col: str = "meta",
) -> DataFrame:
    """Container-level frame index: one output row per video sample
    with its true timestamps, byte range and keyframe flag — the
    metadata a frame-sampling pipeline needs BEFORE any pixel work,
    extracted without touching codec bitstreams.

    ``meta.codec == "mp4"`` decodes the full ISO-BMFF sample tables
    (``sources/mp4.py::mp4_sample_index`` — stts/ctts/stsz/stsc/
    stco/co64/stss, all expanded with vectorized run-length numpy);
    ``"avi"`` walks the RIFF video chunks (``sources/avi.py`` — every
    MJPEG frame is a sync sample, timing from the stream header);
    ``"y4m"`` walks the YUV4MPEG2 frame markers (fixed-size frames,
    real byte offsets); ``"fake"`` emits a digest-derived index;
    other codecs raise.  ``keyframes_only=True`` keeps just sync
    samples — the honest 100 TB shape: ship only keyframe byte
    ranges to a GPU decode stage instead of whole clips.

    Scale shape: row expansion happens INSIDE the executor (one clip
    → n_frames rows per Arrow batch); payload bytes never leave the
    worker; no shuffle is introduced."""

    def index_of(p: bytes, codec: str):
        """(n, dts_ms, pts_ms, size, offset, sync) arrays."""
        import numpy as np

        if codec == "mp4":
            from parquet_editor_spark.sources.mp4 import mp4_sample_index

            ix = mp4_sample_index(p)
            ts = ix["timescale"]
            return (
                ix["n_samples"],
                ix["dts"] * 1000 // ts,
                ix["pts"] * 1000 // ts,
                ix["size"],
                ix["offset"],
                ix["is_sync"],
            )
        if codec == "avi":
            from parquet_editor_spark.sources.avi import (
                avi_video_chunks,
                avi_video_timing,
            )

            chunks = avi_video_chunks(p)
            scale, rate = avi_video_timing(p)
            n = len(chunks)
            t = np.arange(n, dtype=np.int64)
            dts = t * scale * 1000 // rate
            sizes = np.array([s for _, s in chunks], np.int64)
            offs = np.array([o for o, _ in chunks], np.int64)
            # every MJPEG frame is intra-coded → all sync
            return (n, dts, dts, sizes, offs, np.ones(n, bool))
        if codec == "y4m":
            from parquet_editor_spark.sources.y4m import decode_y4m

            w, h, num, den, _cs, frames = decode_y4m(p)
            n = len(frames)
            offsets = np.zeros(n, np.int64)
            pos = p.index(b"\n") + 1  # end of stream header
            for i in range(n):
                if p[pos : pos + 5] != b"FRAME":
                    raise ValueError(
                        f"y4m frame marker missing at byte {pos}"
                    )
                eol = p.index(b"\n", pos)
                offsets[i] = eol + 1
                pos = eol + 1 + len(frames[i])
            sizes = np.array([len(f) for f in frames], np.int64)
            t = np.arange(n, dtype=np.int64)
            dts = t * 1000 * den // num
            return (n, dts, dts, sizes, offsets,
                    np.ones(n, bool))
        if codec == "fake":
            import hashlib as _h

            d = _h.md5(p).digest()
            n = 1 + d[0] % 6
            t = np.arange(n, dtype=np.int64)
            dts = t * (20 + d[1] % 20)
            sizes = 50 + (t * 13 + d[2]) % 100
            offs = np.concatenate(
                ([0], np.cumsum(sizes)[:-1])
            ) + d[3]
            sync = (t % max(1, d[4] % 4 + 1)) == 0
            sync[0] = True
            return (n, dts, dts, sizes, offs, sync)
        raise NotImplementedError(
            f"frame index for codec {codec!r} requires ffmpeg; "
            "built-in support is mp4/avi/y4m, or codec='fake' for "
            "pipeline testing"
        )

    def frames(p: bytes, codec: str):
        n, dts, pts, sizes, offs, sync = index_of(p, codec)
        return [
            (i, n, int(dts[i]), int(pts[i]), int(sizes[i]), int(offs[i]),
             bool(sync[i]))
            for i in range(n)
            if not keyframes_only or bool(sync[i])
        ]

    return _map_records(
        df,
        payload_col,
        [
            T.StructField("frame_idx", T.IntegerType(), True),
            T.StructField("n_frames", T.IntegerType(), True),
            T.StructField("dts_ms", T.LongType(), True),
            T.StructField("pts_ms", T.LongType(), True),
            T.StructField("frame_bytes", T.LongType(), True),
            T.StructField("frame_offset", T.LongType(), True),
            T.StructField("is_sync", T.BooleanType(), True),
        ],
        frames,
        meta_col,
    )


def image_dhash(
    df: DataFrame, payload_col: str = "payload", meta_col: str = "meta"
) -> DataFrame:
    """Perceptual difference-hash stage: payload → 64-bit ``dhash``
    (long) + width/height — the image analogue of SimHash for
    near-duplicate detection over crawl corpora.

    Canonical dHash: decode (any of the five real codecs via
    ``_decode_pixels``), integer luma (mean of the first three
    channels; gray passthrough), box-average down to a 9×8 grid
    (integer area means — deterministic, no float resampling), then
    bit (r,c) = 1 iff cell (r,c) < cell (r,c+1), packed row-major
    MSB-first into a signed int64.  Identical pixel content hashes
    identically regardless of container format or channel layout;
    small re-encodes move few bits, so a banded Hamming join
    (``dedup.hamming_pairs``) finds near-dups without a cross join.

    Scale shape: Arrow ``mapInPandas`` projection, bytes stay on the
    executors; downstream pair-finding shuffles only (id, hash) —
    16 bytes per image, not pixels."""

    def cell_means(gray, k_w: int = 9, k_h: int = 8):
        import numpy as _np

        h, w = gray.shape
        out = _np.empty((k_h, k_w), _np.int64)
        for r in range(k_h):
            r0, r1 = (r * h) // k_h, ((r + 1) * h) // k_h
            r1 = min(max(r1, r0 + 1), h) if h else 0
            r0 = min(r0, h - 1)
            for c in range(k_w):
                c0, c1 = (c * w) // k_w, ((c + 1) * w) // k_w
                c1 = min(max(c1, c0 + 1), w) if w else 0
                c0 = min(c0, w - 1)
                block = gray[r0:r1, c0:c1]
                out[r, c] = int(block.sum()) // block.size
        return out

    def hash_of(p: bytes, codec: str):
        import numpy as _np

        if codec == "fake":
            import hashlib as _h

            d = _h.md5(p).digest()
            v = int.from_bytes(d[:8], "big")
            v = v - (1 << 64) if v >= (1 << 63) else v
            return (v, 16 + d[8] % 1024, 16 + d[9] % 1024)
        w, h, ch, pix = _decode_pixels(p, codec, "dhash")
        a = _np.frombuffer(pix, dtype=_np.uint8).reshape(h, w, ch)
        if ch >= 3:
            gray = (
                a[:, :, 0].astype(_np.int64)
                + a[:, :, 1]
                + a[:, :, 2]
            ) // 3
        else:
            gray = a[:, :, 0].astype(_np.int64)
        g = cell_means(gray)
        bits = (g[:, :8] < g[:, 1:]).reshape(-1)
        v = 0
        for b in bits:
            v = (v << 1) | int(b)
        v = v - (1 << 64) if v >= (1 << 63) else v
        return (v, w, h)

    return _map_columns(
        df,
        payload_col,
        [
            T.StructField("dhash", T.LongType(), True),
            T.StructField("width", T.IntegerType(), True),
            T.StructField("height", T.IntegerType(), True),
        ],
        hash_of,
        meta_col,
    )


def warc_records(
    df: DataFrame, payload_col: str = "payload"
) -> DataFrame:
    """Crawl-archive ingestion: one WARC payload row → one row per
    record with its type, target URI, date, content type and UTF-8
    body — the first operator a Common-Crawl-shaped pipeline runs.
    Plain and per-record-gzip (``.warc.gz``) streams both parse
    (``sources/warc.py``); body text decodes as UTF-8 with
    replacement (crawl bodies are declared-charset chaos — the
    downstream quality stages handle mojibake).

    Scale shape: record expansion happens INSIDE the executor (Arrow
    ``mapInPandas``); archive bytes never shuffle — only the
    extracted scalar columns do.  At 100 TB each executor walks its
    own archive byte ranges, the same unit of work a WARC splitter
    hands out."""

    def records(p: bytes, _codec: str):
        from parquet_editor_spark.sources.warc import parse_warc

        return [
            (
                i,
                rec["warc_type"],
                rec["target_uri"],
                rec["date"],
                rec["content_type"],
                len(rec["payload"]),
                rec["payload"].decode("utf-8", "replace"),
            )
            for i, rec in enumerate(parse_warc(p))
        ]

    return _map_records(
        df,
        payload_col,
        [
            T.StructField("rec_idx", T.IntegerType(), True),
            T.StructField("warc_type", T.StringType(), True),
            T.StructField("target_uri", T.StringType(), True),
            T.StructField("warc_date", T.StringType(), True),
            T.StructField("content_type", T.StringType(), True),
            T.StructField("content_length", T.LongType(), True),
            T.StructField("body", T.StringType(), True),
        ],
        records,
    )


def zip_members(
    df: DataFrame, payload_col: str = "payload", text: bool = True
) -> DataFrame:
    """Archive-bundle ingestion: one ZIP payload row → one row per
    member with its name, sizes, CRC-32 and (when ``text``) UTF-8
    content — the dataset-bundle sibling of :func:`warc_records`.
    Deflate decompression and CRC verification run per member via
    stdlib ``zipfile`` (``sources/ziparc.py``); a corrupt archive
    fails the row loudly.

    Scale shape: member expansion happens INSIDE the executor (Arrow
    ``mapInPandas``); archive bytes never shuffle.  The ZIP central
    directory is O(members) at the payload tail, so listing never
    decompresses non-selected members."""

    def members(p: bytes, _codec: str):
        from parquet_editor_spark.sources.ziparc import parse_zip

        return [
            (
                i,
                m["name"],
                m["size"],
                m["compressed_size"],
                m["crc32"],
                m["data"].decode("utf-8", "replace") if text else m["data"],
            )
            for i, m in enumerate(parse_zip(p))
        ]

    return _map_records(
        df,
        payload_col,
        [
            T.StructField("member_idx", T.IntegerType(), True),
            T.StructField("name", T.StringType(), True),
            T.StructField("size_bytes", T.LongType(), True),
            T.StructField("compressed_bytes", T.LongType(), True),
            T.StructField("crc32", T.LongType(), True),
            T.StructField(
                "content",
                T.StringType() if text else T.BinaryType(),
                True,
            ),
        ],
        members,
    )


def tar_members(
    df: DataFrame, payload_col: str = "payload", text: bool = True
) -> DataFrame:
    """Archive-bundle ingestion: one TAR (or ``.tar.gz``) payload row
    → one row per regular-file member with its name, size, mtime and
    (when ``text``) UTF-8 content — the WebDataset-shard sibling of
    :func:`zip_members`.  The hand-rolled ustar header walk verifies
    each header checksum (``sources/tararc.py``); a corrupt archive
    fails the row loudly.

    Scale shape: member expansion happens INSIDE the executor (Arrow
    ``mapInPandas``); archive bytes never shuffle.  TAR is a pure
    stream format, so one sequential pass yields all members — the
    natural shape for a gzipped shard that cannot seek anyway."""

    def members(p: bytes, _codec: str):
        from parquet_editor_spark.sources.tararc import parse_tar

        return [
            (
                i,
                m["name"],
                m["size"],
                m["mtime"],
                m["data"].decode("utf-8", "replace") if text else m["data"],
            )
            for i, m in enumerate(parse_tar(p))
        ]

    return _map_records(
        df,
        payload_col,
        [
            T.StructField("member_idx", T.IntegerType(), True),
            T.StructField("name", T.StringType(), True),
            T.StructField("size_bytes", T.LongType(), True),
            T.StructField("mtime", T.LongType(), True),
            T.StructField(
                "content",
                T.StringType() if text else T.BinaryType(),
                True,
            ),
        ],
        members,
    )


def wds_samples(
    df: DataFrame, payload_col: str = "payload", text: bool = True
) -> DataFrame:
    """WebDataset sample grouping: one TAR-shard payload row → one
    row per SAMPLE.  WebDataset convention (the shard layout used by
    large multimodal training corpora): members whose basenames share
    the stem before the FIRST dot form one sample (``0001.jpg`` +
    ``0001.txt`` + ``0001.json`` → sample ``0001`` with components
    ``jpg``/``txt``/``json``), and a sample's members are contiguous
    in the archive.  Emits the sample key, its component-extension
    set, byte totals, and a ``components`` map ext → content.

    Scale shape: the TAR walk AND the sample grouping both happen
    inside one executor-side Arrow pass (``sources/tararc.py``) —
    a sample's members live in the same archive payload, so grouping
    them here avoids the groupBy shuffle a post-explode regroup
    would pay.  Archive bytes never shuffle and never visit the
    driver."""

    def samples_of(p: bytes, _codec: str):
        from parquet_editor_spark.sources.tararc import parse_tar

        samples: dict[str, dict[str, bytes]] = {}
        for m in parse_tar(p):
            name = m["name"]
            base_name = name.rsplit("/", 1)[-1]
            dot = base_name.find(".")
            if dot <= 0:
                key, ext = name, ""
            else:
                key = name[: len(name) - len(base_name) + dot]
                ext = base_name[dot + 1 :]
            samples.setdefault(key, {})[ext] = m["data"]
        return [
            (
                i,
                key,
                len(comp),
                ";".join(sorted(comp)),
                sum(len(v) for v in comp.values()),
                {
                    k: v.decode("utf-8", "replace") if text else v
                    for k, v in comp.items()
                },
            )
            for i, (key, comp) in enumerate(samples.items())
        ]

    val_t = T.StringType() if text else T.BinaryType()
    return _map_records(
        df,
        payload_col,
        [
            T.StructField("sample_idx", T.IntegerType(), True),
            T.StructField("sample_key", T.StringType(), True),
            T.StructField("n_components", T.IntegerType(), True),
            T.StructField("exts", T.StringType(), True),
            T.StructField("total_bytes", T.LongType(), True),
            T.StructField(
                "components", T.MapType(T.StringType(), val_t), True
            ),
        ],
        samples_of,
    )


def shard_webdataset(
    df: DataFrame,
    shard_col: str,
    key_col: str,
    components: dict[str, str],
    compression: str | None = None,
) -> DataFrame:
    """WebDataset shard EXPORT — the write half of :func:`wds_samples`.
    Groups rows by ``shard_col`` (the caller decides the shard mapping,
    e.g. ``F.floor(F.col("doc_id") / 1024)``) and packs each shard's
    samples — sorted by ``key_col``, one member per ``components``
    entry ext → column, named ``<key>.<ext>`` — into ONE ustar TAR
    payload (``sources/tararc.py``), optionally compressed
    (``compression`` ∈ {None, 'gzip', 'zstd'} — zstd via pyarrow's
    Arrow C++ codec, the modern shard convention).  Emits one row
    per shard: shard id, sample count, shard bytes, payload.

    Scale shape: the groupBy shuffle IS the export plan — shard size
    directly controls task size, so the caller tunes
    ``samples_per_shard`` via the shard mapping the same way a 100 TB
    export job sizes its output files.  Packing happens in one Arrow
    ``applyInPandas`` pass per shard; sample bytes shuffle exactly
    once (they must — samples of one shard start on many input
    partitions) and never visit the driver."""

    def tar(pdf) -> bytes:
        from parquet_editor_spark.sources.tararc import make_tar

        members = []
        cols = [pdf[c] for c in components.values()]
        for key, *vals in zip(pdf[key_col], *cols):
            for ext, v in zip(components, vals):
                if v is None:
                    v = b""
                elif isinstance(v, str):
                    v = v.encode()
                members.append((f"{key}.{ext}", bytes(v)))
        return make_tar(members, compression=compression)

    return _pack_shards(df, shard_col, key_col, "n_samples", tar)


def tfrecord_records(
    df: DataFrame, payload_col: str = "payload", text: bool = True
) -> DataFrame:
    """TFRecord-shard ingestion: one TFRecord payload row → one row
    per record with its index, byte size and (when ``text``) UTF-8
    content.  Both framing CRC-32Cs verify per record
    (``sources/tfrecord.py``); a corrupt shard fails the row loudly.

    Scale shape: record expansion happens INSIDE the executor (Arrow
    ``mapInPandas``); shard bytes never shuffle and never visit the
    driver — the same contract as the TAR/ZIP/WARC walks."""

    def records(p: bytes, _codec: str):
        from parquet_editor_spark.sources.tfrecord import parse_tfrecord

        return [
            (i, len(rec), rec.decode("utf-8", "replace") if text else rec)
            for i, rec in enumerate(parse_tfrecord(p))
        ]

    return _map_records(
        df,
        payload_col,
        [
            T.StructField("rec_idx", T.IntegerType(), True),
            T.StructField("size_bytes", T.LongType(), True),
            T.StructField(
                "content",
                T.StringType() if text else T.BinaryType(),
                True,
            ),
        ],
        records,
    )


def pdf_pages(
    df: DataFrame, payload_col: str = "payload"
) -> DataFrame:
    """PDF text extraction: one PDF payload row → one row per page
    with its index, the document's page count and the page's
    extracted text (``sources/pdf.py``: classic xref walk,
    FlateDecode, Tj/TJ/'/\" show operators — the modern-PDF features
    are honest NotImplementedError gates there).

    Scale shape: the page walk and inflate run INSIDE the executor
    (Arrow ``mapInPandas``); PDF bytes never shuffle and never visit
    the driver — the same contract as the TAR/ZIP/WARC walks."""

    def pages(p: bytes, _codec: str):
        from parquet_editor_spark.sources.pdf import decode_pdf_text

        texts = decode_pdf_text(p)
        return [(i, len(texts), txt) for i, txt in enumerate(texts)]

    return _map_records(
        df,
        payload_col,
        [
            T.StructField("page_idx", T.IntegerType(), True),
            T.StructField("n_pages", T.IntegerType(), True),
            T.StructField("page_text", T.StringType(), True),
        ],
        pages,
    )


def epub_book_chapters(
    df: DataFrame, payload_col: str = "payload"
) -> DataFrame:
    """EPUB chapter extraction: one EPUB payload row → one row per
    spine-ordered chapter with its index, href and RAW XHTML
    (``sources/epub.py``: mimetype gate, container.xml → OPF manifest
    + spine walk over the ZIP member table).  Markup stripping stays
    downstream in Catalyst (``strip_markup``), so the Python here is
    only the container walk — the WARC-tier split.

    Scale shape: archive explode inside the executor's Arrow pass;
    book bytes never shuffle and never visit the driver."""

    def chapters(p: bytes, _codec: str):
        from parquet_editor_spark.sources.epub import epub_chapters

        return [
            (ch["chapter_idx"], ch["href"], ch["xhtml"])
            for ch in epub_chapters(p)
        ]

    return _map_records(
        df,
        payload_col,
        [
            T.StructField("chapter_idx", T.IntegerType(), True),
            T.StructField("href", T.StringType(), True),
            T.StructField("xhtml", T.StringType(), True),
        ],
        chapters,
    )


def shard_tfrecord(
    df: DataFrame, shard_col: str, order_col: str, value_col: str
) -> DataFrame:
    """TFRecord shard EXPORT — the write half of
    :func:`tfrecord_records`, mirroring :func:`shard_webdataset` for
    the record-stream format: groups rows by ``shard_col``, frames
    each ``value_col`` (string or binary) as one TFRecord in
    ``order_col`` order, and emits one row per shard with the framed
    payload.

    Scale shape: same as the TAR exporter — the groupBy shuffle IS
    the export plan, record bytes move exactly once, framing happens
    in one Arrow ``applyInPandas`` pass per shard."""

    def frame(pdf) -> bytes:
        from parquet_editor_spark.sources.tfrecord import make_tfrecord

        return make_tfrecord(
            [
                v if isinstance(v, (str, bytes)) else bytes(v)
                for v in pdf[value_col]
            ]
        )

    return _pack_shards(df, shard_col, order_col, "n_records", frame)


def shard_arrow_ipc(
    df: DataFrame, shard_col: str, order_col: str
) -> DataFrame:
    """Arrow IPC shard EXPORT: groups rows by ``shard_col`` and
    serializes each group's remaining columns — in ``order_col``
    order, schema preserved — as one Arrow IPC *stream* payload
    (the standard interchange framing, e.g. for Kafka values or
    cross-language hand-off).  Emits one row per shard: shard id,
    row count, payload bytes.

    Scale shape: same contract as the TAR/TFRecord exporters — one
    groupBy shuffle, Arrow-native serialization inside
    ``applyInPandas`` (the data is already Arrow on the worker; this
    is close to a memcpy), payloads never visit the driver."""
    data_cols = [c for c in df.columns if c != shard_col]

    def stream(pdf) -> bytes:
        import pyarrow as pa

        table = pa.Table.from_pandas(pdf[data_cols], preserve_index=False)
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, table.schema) as w:
            w.write_table(table)
        return sink.getvalue().to_pybytes()

    return _pack_shards(df, shard_col, order_col, "n_rows", stream)


def arrow_ipc_table(
    df: DataFrame, payload_col: str = "payload", ddl: str = ""
) -> DataFrame:
    """Arrow IPC ingestion — the read half of :func:`shard_arrow_ipc`:
    each payload row holds an Arrow IPC stream whose rows are emitted
    with the caller-declared column schema (``ddl``, e.g.
    ``"doc_id long, txt string"``) appended to the carried-through
    columns.  A payload whose embedded schema does not match the
    declaration fails the row loudly (Arrow's cast raises).

    Scale shape: zero-copy-ish explode inside the executor — the
    payload is already Arrow bytes, so ``open_stream`` is a metadata
    walk, not a parse."""
    if not ddl:
        raise ValueError("declare the embedded schema, e.g. 'a long'")
    declared = T.StructType.fromDDL(ddl)
    decl_names = [f.name for f in declared.fields]

    def rows(p: bytes, _codec: str):
        import pyarrow as pa

        table = pa.ipc.open_stream(p).read_all().select(decl_names)
        return table.to_pandas().itertuples(index=False, name=None)

    return _map_records(df, payload_col, list(declared.fields), rows)


def shard_parquet_payload(
    df: DataFrame, shard_col: str, order_col: str
) -> DataFrame:
    """Parquet-payload shard EXPORT: groups rows by ``shard_col`` and
    serializes each group's remaining columns — in ``order_col``
    order — as one complete parquet FILE in a binary payload (zstd
    data pages), the shape of dataset dumps shipped inside archives
    or object-store blobs.  Emits one row per shard: shard id, row
    count, payload bytes.

    Scale shape: identical contract to the TAR/TFRecord/Arrow-IPC
    exporters — one groupBy shuffle, pyarrow serialization inside
    ``applyInPandas``, payloads never visit the driver."""
    data_cols = [c for c in df.columns if c != shard_col]

    def parquet_file(pdf) -> bytes:
        import pyarrow as pa
        import pyarrow.parquet as pq

        table = pa.Table.from_pandas(pdf[data_cols], preserve_index=False)
        sink = pa.BufferOutputStream()
        pq.write_table(table, sink, compression="zstd")
        return sink.getvalue().to_pybytes()

    return _pack_shards(df, shard_col, order_col, "n_rows", parquet_file)


def parquet_payload_table(
    df: DataFrame, payload_col: str = "payload", ddl: str = ""
) -> DataFrame:
    """Parquet-payload ingestion — the read half of
    :func:`shard_parquet_payload`: each payload row holds a complete
    parquet file whose rows are emitted with the caller-declared
    column schema (``ddl``) appended to the carried-through columns.
    Column projection pushes into the parquet read (only declared
    columns decode).

    Scale shape: executor-side explode; the parquet footer walk and
    column decode run inside the Arrow pass, payload bytes never
    shuffle."""
    if not ddl:
        raise ValueError("declare the embedded schema, e.g. 'a long'")
    declared = T.StructType.fromDDL(ddl)
    decl_names = [f.name for f in declared.fields]

    def rows(p: bytes, _codec: str):
        import pyarrow as pa
        import pyarrow.parquet as pq

        table = pq.read_table(pa.BufferReader(p), columns=decl_names)
        return table.to_pandas().itertuples(index=False, name=None)

    return _map_records(df, payload_col, list(declared.fields), rows)


def shard_jsonl(
    df: DataFrame, shard_col: str, order_col: str
) -> DataFrame:
    """JSONL shard EXPORT — the text-format sibling of the
    TAR/TFRecord/Arrow exporters and the most common LLM-corpus
    interchange shape (``.jsonl`` shards).  Groups rows by
    ``shard_col`` and serializes each group's remaining columns — in
    ``order_col`` order — as one newline-delimited JSON string
    payload.

    Scale shape: PURE Catalyst — ``to_json`` + sorted
    ``collect_list`` + ``array_join``, whole-stage codegen end to
    end, zero Python.  One groupBy shuffle, payload never visits the
    driver."""
    data_cols = [c for c in df.columns if c != shard_col]
    line = F.to_json(F.struct(*[F.col(c) for c in data_cols]))
    ordered = F.transform(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col(order_col).alias("__o"), line.alias("__j")
                )
            )
        ),
        lambda s: s["__j"],
    )
    return df.groupBy(shard_col).agg(
        F.count("*").cast("int").alias("n_rows"),
        F.array_join(ordered, "\n").alias("payload"),
    )


def jsonl_records(
    df: DataFrame, payload_col: str = "payload", ddl: str = ""
) -> DataFrame:
    """JSONL ingestion — the read half of :func:`shard_jsonl`: each
    payload row holds newline-delimited JSON whose records are
    emitted with the caller-declared schema (``ddl``) appended to the
    carried-through columns.

    Scale shape: PURE Catalyst — ``split`` + ``explode`` +
    ``from_json``, codegen end to end, zero Python; malformed lines
    surface as NULL structs (from_json's PERMISSIVE contract) rather
    than killing the task."""
    if not ddl:
        raise ValueError("declare the embedded schema, e.g. 'a long'")
    declared = T.StructType.fromDDL(ddl)
    keep = [
        F.col(f.name) for f in df.schema.fields if f.name != payload_col
    ]
    exploded = df.select(
        *keep,
        F.explode(
            F.split(F.col(payload_col), "\n")
        ).alias("__line"),
    )
    rec = F.from_json(F.col("__line"), declared)
    return exploded.select(
        *keep, *[rec[f.name].alias(f.name) for f in declared.fields]
    )


def subtitle_cues(
    df: DataFrame, payload_col: str = "payload", meta_col: str = "meta"
) -> DataFrame:
    """Caption ingestion: one SRT/WebVTT payload row → one row per
    cue with integer-millisecond timings and the cue text — the
    caption-alignment input of a video training pipeline
    (``sources/subtitles.py``).  Dispatches on ``meta.codec``
    (``"srt"`` / ``"vtt"``); other codecs raise.

    Scale shape: cue expansion happens INSIDE the executor (Arrow
    ``mapInPandas``); only scalar cue rows shuffle."""

    def cues_of(p: bytes, codec: str):
        from parquet_editor_spark.sources.subtitles import (
            parse_srt,
            parse_vtt,
        )

        text = p.decode("utf-8", "replace")
        if codec == "srt":
            cues = parse_srt(text)
        elif codec == "vtt":
            cues = parse_vtt(text)
        else:
            raise NotImplementedError(
                f"subtitle parse for codec {codec!r}: "
                "built-in support is srt/vtt"
            )
        return [
            (c["cue_idx"], c["start_ms"], c["end_ms"], c["text"])
            for c in cues
        ]

    return _map_records(
        df,
        payload_col,
        [
            T.StructField("cue_idx", T.IntegerType(), True),
            T.StructField("start_ms", T.LongType(), True),
            T.StructField("end_ms", T.LongType(), True),
            T.StructField("cue_text", T.StringType(), True),
        ],
        cues_of,
        meta_col,
        default_codec="srt",
    )


def image_exif(
    df: DataFrame, payload_col: str = "payload", meta_col: str = "meta"
) -> DataFrame:
    """EXIF camera-tag extraction: payload → (make, model,
    orientation, taken_at, exif_w, exif_h, iso) — the provenance
    metadata an image-curation pipeline filters and joins on
    (device dedup, orientation-aware resize, capture-date windows).

    ``"jpeg"``/``"jpg"`` rows walk the APP1 segment and its embedded
    TIFF IFDs for REAL (``sources/exif.py`` — both byte orders, IFD0
    + Exif sub-IFD); a JPEG without EXIF yields all-None fields
    (missing metadata is data, not an error); other codecs raise —
    EXIF is a JPEG/TIFF concept.

    Scale shape: O(header) per payload, pure Arrow ``mapInPandas``
    projection, no shuffle."""

    keys = ("make", "model", "orientation", "datetime", "exif_w", "exif_h",
            "iso")

    def exif_of(p: bytes, codec: str):
        if codec not in ("jpeg", "jpg"):
            raise NotImplementedError(
                f"EXIF extraction for codec {codec!r}: EXIF is a "
                "JPEG/TIFF concept"
            )
        from parquet_editor_spark.sources.exif import exif_from_jpeg

        info = exif_from_jpeg(p)
        return tuple(info.get(k) for k in keys)

    return _map_columns(
        df,
        payload_col,
        [
            T.StructField("make", T.StringType(), True),
            T.StructField("model", T.StringType(), True),
            T.StructField("orientation", T.IntegerType(), True),
            T.StructField("taken_at", T.StringType(), True),
            T.StructField("exif_w", T.IntegerType(), True),
            T.StructField("exif_h", T.IntegerType(), True),
            T.StructField("iso", T.IntegerType(), True),
        ],
        exif_of,
        meta_col,
    )


def _video_pixel_frames(p: bytes, codec: str, what: str):
    """(width, height, frames) with ``frames`` a list of per-frame
    uint8 numpy sample buffers — the REAL pixel tier shared by
    :func:`video_frame_stats` and :func:`video_scene_cuts`.

    ``"y4m"`` frames are the raw planar YUV buffers (already pixels);
    ``"avi"`` (MJPEG) frames run the full baseline/progressive JPEG
    decode per frame (``sources/jpeg_codec.py``).  Inter-coded codecs
    (H.264 in mp4) raise — their pixel decode belongs to ffmpeg."""
    import numpy as _np

    if codec == "y4m":
        from parquet_editor_spark.sources.y4m import decode_y4m

        w, h, _n, _d, _cs, frames = decode_y4m(p)
        return w, h, [_np.frombuffer(f, _np.uint8) for f in frames]
    if codec == "avi":
        from parquet_editor_spark.sources.avi import avi_video_frames
        from parquet_editor_spark.sources.jpeg_codec import decode_jpeg

        out, w, h = [], None, None
        for i, coded in enumerate(avi_video_frames(p)):
            fw, fh, _ch, pix = decode_jpeg(coded)
            if w is None:
                w, h = fw, fh
            elif (fw, fh) != (w, h):
                raise ValueError(
                    f"MJPEG frame {i} is {fw}x{fh}, expected {w}x{h}"
                )
            out.append(_np.frombuffer(pix, _np.uint8))
        if w is None:
            raise ValueError("AVI has no video frames")
        return w, h, out
    raise NotImplementedError(
        f"{what} for codec {codec!r} requires ffmpeg; built-in pixel "
        "support is y4m (raw YUV) and avi (MJPEG)"
    )


def video_frame_stats(
    df: DataFrame,
    k: int = 4,
    payload_col: str = "payload",
    meta_col: str = "meta",
) -> DataFrame:
    """REAL per-frame pixel statistics: sample k evenly-spaced frames
    (the shared nearest convention) and emit one row per sampled
    frame with integer-exact sample stats — the video analogue of
    ``image_pixel_stats``, and the honest quality gate before
    shipping a clip to an encoder (all-black intros, blown-out
    scans, frozen frames).

    ``"y4m"`` stats cover the raw planar YUV buffer; ``"avi"``
    (MJPEG) frames decode through the full JPEG codec first.  Sums
    are int64 so every engine agrees bit-for-bit.

    Scale shape: row expansion happens INSIDE the executor (one clip
    → ≤k rows); only scalars leave the worker; no shuffle."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")

    def stats(p: bytes, codec: str):
        from parquet_editor_spark.sources.y4m import sample_frame_indices

        w, h, frames = _video_pixel_frames(p, codec, "frame stats")
        n = len(frames)
        for idx in sample_frame_indices(n, k):
            a = frames[idx]
            yield (
                idx,
                n,
                w,
                h,
                int(a.min()),
                int(a.max()),
                int(a.astype("int64").sum()),
                int(a.size),
            )

    return _map_records(
        df,
        payload_col,
        [
            T.StructField("frame_idx", T.IntegerType(), True),
            T.StructField("n_frames", T.IntegerType(), True),
            T.StructField("frame_w", T.IntegerType(), True),
            T.StructField("frame_h", T.IntegerType(), True),
            T.StructField("px_min", T.IntegerType(), True),
            T.StructField("px_max", T.IntegerType(), True),
            T.StructField("px_sum", T.LongType(), True),
            T.StructField("n_px", T.LongType(), True),
        ],
        stats,
        meta_col,
    )


def video_scene_cuts(
    df: DataFrame,
    threshold: int = 16,
    payload_col: str = "payload",
    meta_col: str = "meta",
) -> DataFrame:
    """Scene-cut detection over REAL decoded frames: one row per
    adjacent frame pair with the integer-exact total absolute sample
    difference, flagged as a cut when the per-sample mean difference
    exceeds ``threshold`` (``diff_sum > threshold * n_px``) — the
    shot-boundary signal a video-curation pipeline samples scenes
    with instead of blind strides.

    ``"y4m"`` diffs the raw planar YUV buffers; ``"avi"`` (MJPEG)
    decodes every frame through the JPEG codec first.  All arithmetic
    is int64 — no float drift between engines.

    Scale shape: O(frames × samples) per clip, entirely executor-side
    (numpy vectorized); output is (clip × transitions) scalar rows —
    no payload bytes shuffle."""
    if threshold < 0:
        raise ValueError(f"threshold must be >= 0, got {threshold}")

    def cuts(p: bytes, codec: str):
        import numpy as _np

        _w, _h, frames = _video_pixel_frames(p, codec, "scene cuts")
        n = len(frames)
        prev = None
        for i, a in enumerate(frames):
            a = a.astype(_np.int64)
            if prev is not None:
                diff = int(_np.abs(a - prev).sum())
                yield (i, n, diff, int(a.size), diff > threshold * a.size)
            prev = a

    return _map_records(
        df,
        payload_col,
        [
            T.StructField("frame_idx", T.IntegerType(), True),
            T.StructField("n_frames", T.IntegerType(), True),
            T.StructField("diff_sum", T.LongType(), True),
            T.StructField("n_px", T.LongType(), True),
            T.StructField("is_cut", T.BooleanType(), True),
        ],
        cuts,
        meta_col,
    )


def _decode_audio_samples(p: bytes, codec: str):
    """(rate, ch, samples) with samples shaped (n, ch) int64 — the
    shared lossless decode dispatch for sample-level audio operators
    (WAV PCM/ADPCM/G.711 via sources/wav.py, FLAC via the pure-numpy
    codec; IEEE-float WAV and other codecs gate loudly)."""
    import numpy as _np

    if codec == "wav":
        from parquet_editor_spark.sources import wav as _wav

        rate, ch, bits, n, frames, tag = _wav.decode_wav_ex(p)
        if tag == _wav.IEEE_FLOAT:
            raise NotImplementedError(
                "sample-level audio ops for IEEE-float WAV are not "
                "engine-portable; convert to PCM first"
            )
        if bits == 8:
            a = _np.frombuffer(frames, _np.uint8).astype(_np.int64) - 128
        elif bits == 16:
            a = _np.frombuffer(frames, "<i2").astype(_np.int64)
        elif bits == 32:
            a = _np.frombuffer(frames, "<i4").astype(_np.int64)
        elif bits == 24:
            raw = _np.frombuffer(frames, _np.uint8).reshape(-1, 3)
            u = (
                raw[:, 0].astype(_np.int64)
                | (raw[:, 1].astype(_np.int64) << 8)
                | (raw[:, 2].astype(_np.int64) << 16)
            )
            a = _np.where(u >= 1 << 23, u - (1 << 24), u)
        else:
            raise NotImplementedError(
                f"sample-level audio ops for {bits}-bit WAV"
            )
        return rate, ch, a.reshape(n, ch)
    if codec == "flac":
        from parquet_editor_spark.sources.flac_codec import decode_flac

        rate, ch, _bits, _n, smp = decode_flac(p)
        return rate, ch, smp
    raise NotImplementedError(
        f"sample-level audio ops for codec {codec!r} require a real "
        "decoder; built-in support is wav, flac"
    )


def audio_segments(
    df: DataFrame,
    payload_col: str = "payload",
    codec_col: str = "codec",
    frame: int = 256,
    energy_threshold: int = 1000,
) -> DataFrame:
    """Energy-based audio SEGMENTATION (r12 — the VAD-lite operator an
    audio-curation pipeline runs to trim silence and mine voiced
    spans): decode the clip, split into fixed ``frame``-sample
    windows (a trailing partial frame is dropped — documented), mark
    a frame VOICED iff its mean absolute amplitude over all channels
    reaches ``energy_threshold`` (integer comparison:
    ``sum|s| ≥ threshold·frame·channels`` — engine-exact, no float),
    and merge consecutive voiced frames into segments.  One row per
    segment: ``seg_idx``, ``start_frame``, ``n_frames``, ``sum_abs``
    (the segment's integer absolute-amplitude mass).  Null payloads
    AND non-null clips shorter than one frame each emit a single
    all-null segment row (r13, per the r12 ADVICE) — no document
    ever silently vanishes from the output; clips with frames but no
    voiced frame emit no row (zero segments is real accounting, the
    clip is all silence).

    Scale shape: Arrow ``mapInPandas``, O(samples) per clip
    executor-side, segments emitted directly (no per-frame explode
    ever shuffles); a differential oracle predicts the segments
    relationally from the closed-form fixture signal, so decode AND
    segmentation defects both diverge."""
    if frame < 1 or energy_threshold < 0:
        raise ValueError("need frame >= 1 and energy_threshold >= 0")

    def segments(p: bytes, codec: str):
        import numpy as np

        _rate, ch, smp = _decode_audio_samples(p, codec)
        n_frames = len(smp) // frame
        if n_frames == 0:
            # a non-null clip shorter than one frame stays VISIBLE
            # downstream: emit the same null-segment row the
            # null-payload path emits (r12 ADVICE — silently vanishing
            # docs are unaccountable)
            yield (None, None, None, None)
            return
        a = np.abs(smp[: n_frames * frame]).reshape(n_frames, frame * ch)
        fsum = a.sum(axis=1)
        voiced = fsum >= energy_threshold * frame * ch
        seg = 0
        i = 0
        while i < n_frames:
            if not voiced[i]:
                i += 1
                continue
            j = i
            while j < n_frames and voiced[j]:
                j += 1
            yield (seg, int(i), int(j - i), int(fsum[i:j].sum()))
            seg += 1
            i = j

    return _map_records(
        df,
        payload_col,
        [
            T.StructField("seg_idx", T.IntegerType(), True),
            T.StructField("start_frame", T.LongType(), True),
            T.StructField("n_frames", T.LongType(), True),
            T.StructField("sum_abs", T.LongType(), True),
        ],
        segments,
        codec_col,
    )


def audio_stats(
    df: DataFrame, payload_col: str = "payload", meta_col: str = "meta"
) -> DataFrame:
    """Sample-level audio statistics: payload → (sample_rate,
    channels, n_frames, peak, dc_sum, sq_sum, zero_crossings) — the
    integer-exact inputs an audio-curation pipeline filters on
    (silence, clipping, DC offset, noisiness).  ``"wav"`` rows decode
    through the full PCM/ADPCM/G.711 tier (``sources/wav.py``;
    unsigned 8-bit is centered at −128, IEEE-float WAVs raise — float
    stats aren't engine-portable); ``"flac"`` rows decode through the
    pure-numpy FLAC codec (``sources/flac_codec.py``, r9); ``"fake"``
    rows derive stats from the digest; other codecs raise.

    ``peak`` = max |sample|, ``dc_sum`` = Σ sample, ``sq_sum`` =
    Σ sample² (ValueError past int64 — reachable only for ≥2³²-sample
    32-bit clips), ``zero_crossings`` counts per-channel sign
    transitions (zero counts as non-negative), summed over channels.

    Scale shape: Arrow ``mapInPandas`` projection, O(samples) per
    clip executor-side, no shuffle."""

    def stats_of(p: bytes, codec: str):
        import numpy as _np

        if codec == "fake":
            import hashlib as _h

            d = _h.md5(p).digest()
            rate = 8000 * (1 + d[0] % 6)
            ch = 1 + d[1] % 2
            n = 1 + int.from_bytes(d[2:5], "big") % 100000
            v = d[5] % 128
            return (rate, ch, n, v, v * n * ch,
                    v * v * n * ch, 0)
        rate, ch, s = _decode_audio_samples(p, codec)
        n = len(s)
        if n == 0:
            return (rate, ch, 0, 0, 0, 0, 0)
        peak = int(_np.abs(s).max())
        dc = int(s.sum())
        sq = int((s * s).sum()) if peak < (1 << 31) else sum(
            int(v) * int(v) for v in s.reshape(-1)
        )
        if sq > (1 << 63) - 1:
            raise ValueError(
                "sq_sum exceeds int64 for this clip"
            )
        nonneg = s >= 0
        zc = int((nonneg[1:] != nonneg[:-1]).sum())
        return (rate, ch, n, peak, dc, sq, zc)

    return _map_columns(
        df,
        payload_col,
        [
            T.StructField("sample_rate", T.IntegerType(), True),
            T.StructField("channels", T.IntegerType(), True),
            T.StructField("n_frames", T.LongType(), True),
            T.StructField("peak", T.IntegerType(), True),
            T.StructField("dc_sum", T.LongType(), True),
            T.StructField("sq_sum", T.LongType(), True),
            T.StructField("zero_crossings", T.LongType(), True),
        ],
        stats_of,
        meta_col,
    )
