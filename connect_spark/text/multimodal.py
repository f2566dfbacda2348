"""Multimodal columns: image/audio/video as opaque BINARY + typed
metadata (brief: multimodal columns).

The Spark-side plumbing here is real and tested — envelope schema,
Arrow-batched mapInPandas decode with a stable output schema, batch
shape — while the pixel/sample decode itself is STUBBED (image/audio
libraries are not in this container): decoder selection is an
executor-side import probe — PIL when importable (real dimensions +
thumbnail features), else a deterministic fake derived from the
payload hash; `decode_stub=False` demands the real decoder and raises
where it is absent, `True` forces the stub, `"auto"` probes.

Scale design: payloads stay in executor-side Arrow batches end-to-end
(no driver collect); `spark.sql.files.maxPartitionBytes` bounds the
bytes per task; decode is a narrow map — partitioning of the upstream
scan is preserved, so a 100 TB media corpus decodes with zero shuffle.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from connect_spark.boundary import flat_map

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("mime", T.StringType()),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType())),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("mime", T.StringType()),
        T.StructField("byte_len", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)


def as_media_frame(df: DataFrame, id_col: str, payload_col: str, mime: str) -> DataFrame:
    """Wrap any table into the media envelope (schema above)."""
    return df.select(
        F.col(id_col).cast("long").alias("media_id"),
        F.col(payload_col).cast("binary").alias("payload"),
        F.lit(mime).alias("mime"),
        F.create_map(
            F.lit("source"), F.lit("connect_spark"),
        ).alias("meta"),
    )


def _fake_decode(payload: bytes) -> tuple[int, int, list[float]]:
    """Deterministic stand-in for a real decoder: derives stable
    pseudo-dimensions and an 8-dim feature vector from the content
    hash, so tests exercise the full batch path with checkable
    output."""
    h = hashlib.md5(payload).digest()
    width = 64 + h[0] % 64
    height = 64 + h[1] % 64
    feature = [round(b / 255.0, 6) for b in h[2:10]]
    return width, height, feature


def _pil_decode(payload: bytes) -> tuple[int, int, list[float]]:
    """Real image decode (selected when PIL imports): true dimensions
    plus an 8-dim feature from a 2x4 grayscale thumbnail."""
    import io

    from PIL import Image  # noqa: PLC0415 — executor-side probe

    img = Image.open(io.BytesIO(payload))
    width, height = img.size
    thumb = img.convert("L").resize((4, 2))
    feature = [round(p / 255.0, 6) for p in thumb.getdata()]
    return width, height, feature


def _select_decoder(decode_stub):
    """Import-probe decoder selection (executor-side): `\"auto\"` uses
    PIL when importable and the deterministic stub otherwise; True
    forces the stub; False requires a real decoder and raises where
    it is absent (the honest gate)."""
    if decode_stub is True:
        return _fake_decode
    try:
        import PIL  # noqa: F401,PLC0415

        return _pil_decode
    except ImportError:
        if decode_stub is False:
            raise NotImplementedError(
                "real media decoding requires PIL; not importable in "
                "this environment — run with decode_stub=True or "
                "decode_stub=\"auto\""
            ) from None
        return _fake_decode


def _bmp_decode(payload: bytes) -> tuple[int, int, list[float]]:
    from connect_spark.text.media_codecs import decode_bmp

    d = decode_bmp(payload)
    return d["width"], d["height"], [
        d["mean_r_x1000"] / 255000.0,
        d["mean_g_x1000"] / 255000.0,
        d["mean_b_x1000"] / 255000.0,
    ]


def _png_decode(payload: bytes) -> tuple[int, int, list[float]]:
    from connect_spark.text.media_codecs import decode_png_pixels

    d = decode_png_pixels(payload)
    n = max(d["width"] * d["height"], 1)
    tot = [0, 0, 0]
    for row in d["pixels"]:
        for r, g, b in row:
            tot[0] += r
            tot[1] += g
            tot[2] += b
    return d["width"], d["height"], [
        round(t / (255.0 * n), 6) for t in tot]


def _jpeg_decode(payload: bytes) -> tuple[int, int, list[float]]:
    from connect_spark.text.media_codecs import decode_jpeg_pixels

    d = decode_jpeg_pixels(payload)
    n = max(d["width"] * d["height"], 1)
    tot = [0, 0, 0]
    for row in d["pixels"]:
        for r, g, b in row:
            tot[0] += r
            tot[1] += g
            tot[2] += b
    return d["width"], d["height"], [
        round(t / (255.0 * n), 6) for t in tot]


def _wav_decode(payload: bytes) -> tuple[int, int, list[float]]:
    # width/height carry sample_rate/n_channels for audio; feature is
    # [duration_ms, n_samples, peak/32768]
    from connect_spark.text.media_codecs import decode_wav

    d = decode_wav(payload)
    peak = max((abs(s) for s in d["samples"]), default=0)
    return d["sample_rate"], d["n_channels"], [
        float(d["duration_ms"]), float(d["n_samples"]),
        round(peak / 32768.0, 6),
    ]


def _gif_decode(payload: bytes) -> tuple[int, int, list[float]]:
    from connect_spark.text.media_codecs import decode_gif_frames

    d = decode_gif_frames(payload)
    n = max(d["width"] * d["height"], 1)
    pal = d["palettes"][0]
    mean_lum = sum(sum(pal[v]) for row in d["frames"][0]
                   for v in row) / (3.0 * n)
    return d["width"], d["height"], [
        float(len(d["frames"])), round(mean_lum / 255.0, 6)]


# mime → REAL pure-Python decoder (text/media_codecs.py) — these
# formats never need the stub, whatever decode_stub says
_REAL_DECODERS = {
    "image/bmp": _bmp_decode,
    "image/x-bmp": _bmp_decode,
    "image/png": _png_decode,
    "image/jpeg": _jpeg_decode,
    "image/jpg": _jpeg_decode,
    "image/gif": _gif_decode,
    "audio/wav": _wav_decode,
    "audio/x-wav": _wav_decode,
    "audio/wave": _wav_decode,
}


def decode_media(df: DataFrame, decode_stub: bool | str = True) -> DataFrame:
    """Decode/feature-extract over the media envelope via mapInPandas
    (Arrow batches; one output row per input row; payload column is
    dropped on output so downstream stages don't drag bytes along).
    Uncompressed containers (BMP, RIFF/WAVE) ALWAYS decode for real
    via the repo's own codecs (text/media_codecs.py); for compressed
    mimes decoder selection is an executor-side import probe
    (`_select_decoder`): PIL when present, deterministic stub
    otherwise — the stub ceiling lifts automatically on a cluster
    with image libs installed."""

    # resolved lazily, once per task (each task unpickles its own
    # copy): an all-real-mime task must not trip the decode_stub=False
    # gate for a decoder it never needs
    _sel: list = []

    def fallback(payload: bytes):
        if not _sel:
            _sel.append(_select_decoder(decode_stub))
        return _sel[0](payload)

    def decode(media_id, payload, mime):
        decoded = _REAL_DECODERS.get(mime, fallback)(bytes(payload or b""))
        byte_len = 0 if payload is None else len(payload)
        return [(media_id, mime, byte_len, *decoded)]

    return flat_map(
        df.select("media_id", "payload", "mime"), FEATURE_SCHEMA, decode)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        # index of the SOURCE frame this row carries: differs from
        # frame_idx only when a short stream cycles to pad the
        # n_frames contract, making repetition visible downstream
        T.StructField("source_frame", T.IntegerType()),
        T.StructField("ts_ms", T.LongType()),
        T.StructField("frame", T.BinaryType()),
    ]
)


def sample_frames(
    df: DataFrame, n_frames: int = 4, frame_interval_ms: int = 1000,
    decode_stub: bool = True,
) -> DataFrame:
    """Frame sampling (video → N frames): ONE input row explodes to
    `n_frames` output rows carrying (frame_idx, timestamp, frame
    bytes).  MJPEG-in-AVI payloads (RIFF magic) decode FOR REAL —
    every emitted frame is the actual baseline-JPEG chunk lifted from
    the movi list, timestamped from the stream's fps, truncated or
    cycled to `n_frames` — via the repo's own container walk
    (media_codecs.decode_avi_frames walks the same grammar; here the
    JPEG bytes are passed through undecoded).  Other containers
    (inter-frame codecs: H.264 etc.) keep the deterministic stub —
    each fake frame is the payload's i-th chunk — and `decode_stub=
    False` raises honestly for them (ffmpeg territory)."""

    def _avi_jpeg_chunks(raw: bytes) -> tuple[list[bytes], int]:
        import struct as _st
        chunks: list[bytes] = []
        fps = 0

        def walk(i: int, end: int) -> None:
            nonlocal fps
            while i + 8 <= end:
                fcc = raw[i:i + 4]
                size = _st.unpack("<I", raw[i + 4:i + 8])[0]
                b0 = i + 8
                if fcc == b"LIST" and raw[b0:b0 + 4] in (
                        b"hdrl", b"movi", b"strl"):
                    walk(b0 + 4, b0 + size)
                elif fcc == b"strh" and raw[b0:b0 + 4] == b"vids":
                    scale, rate = _st.unpack(
                        "<2I", raw[b0 + 20:b0 + 28])
                    fps = rate // max(scale, 1)
                elif fcc[2:4] in (b"dc", b"db") and fcc[:2].isdigit():
                    chunks.append(raw[b0:b0 + size])
                i = b0 + size + (size % 2)

        walk(12, 8 + _st.unpack("<I", raw[4:8])[0])
        return chunks, fps

    def frames(mid, payload):
        raw = bytes(payload or b"")
        if raw[:4] == b"RIFF" and raw[8:12] == b"AVI ":
            chunks, fps = _avi_jpeg_chunks(raw)
            if chunks:
                step = (1000 // fps) if fps else frame_interval_ms
                # one row explodes to EXACTLY n_frames rows (the
                # documented contract, same as the stub path): short
                # streams cycle their chunks — source_frame records
                # the true chunk index and ts_ms the true stream
                # position, so a repeated frame is distinguishable and
                # never carries a fabricated past-end timestamp
                for i in range(n_frames):
                    src = i % len(chunks)
                    yield mid, i, src, src * step, chunks[src]
                return
            # zero video chunks: fall through to the stub path
        if not decode_stub:
            raise NotImplementedError(
                "real frame extraction beyond MJPEG-in-AVI "
                "requires ffmpeg, which has no Python import "
                "probe here — run with decode_stub=True"
            )
        chunk = max(1, len(raw) // n_frames)
        for i in range(n_frames):
            yield (mid, i, i, i * frame_interval_ms,
                   raw[i * chunk:(i + 1) * chunk])

    return flat_map(df.select("media_id", "payload"), FRAME_SCHEMA, frames)


def resize_stub(df: DataFrame, width: int, height: int) -> DataFrame:
    """Resize placeholder: updates metadata only (a real impl would
    transform payload bytes in the same mapInPandas shape)."""
    return df.withColumn(
        "meta",
        F.map_concat(
            "meta",
            F.create_map(
                F.lit("resize"), F.lit(f"{width}x{height}")
            ),
        ),
    )


_BMP_MIMES = {"image/bmp", "image/x-bmp"}
_RASTER_MIMES = _BMP_MIMES | {"image/png", "image/jpeg", "image/jpg"}

PIXEL_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("sum_rgb", T.LongType()),
        T.StructField("pos_checksum", T.LongType()),
    ]
)


def resize_media(df: DataFrame, width: int, height: int) -> DataFrame:
    """REAL raster resize for BMP/PNG/JPEG payloads: payload ->
    payload through the repo's own codecs (media_codecs.resize_raster,
    nearest-neighbor; BMP and PNG keep their container, JPEG
    re-encodes to PNG — lossless thumbnail target, see resize_jpeg —
    and the row's mime is rewritten to image/png to match the new
    bytes), same media envelope in and out, Arrow-batched, zero
    shuffle.  Other mimes keep resize_stub's metadata-only behavior
    (their decoders are environment-gated), so one call handles a
    mixed-mime corpus without dropping rows."""
    from connect_spark.text.media_codecs import _PNG_SIG, resize_raster

    def resize(media_id, payload, mime, meta):
        m = dict(meta or {})
        m["resize"] = f"{width}x{height}"
        if mime in _RASTER_MIMES:
            payload = resize_raster(bytes(payload), width, height)
            # the container can change under resize (JPEG → PNG): the
            # mime must describe the NEW bytes or a mime-keyed
            # consumer downstream dispatches the wrong decoder
            if payload[:8] == _PNG_SIG and mime != "image/png":
                m["resize_container"] = "png"
                mime = "image/png"
        else:
            m["resize_applied"] = "metadata-only"
        return [(media_id, payload, mime, m)]

    return flat_map(
        df.select(*MEDIA_SCHEMA.fieldNames()), MEDIA_SCHEMA, resize)


def _rgb_stats(width: int, rows) -> tuple[int, int]:
    """(sum of all channel values, position-weighted checksum) over a
    top-down raster of (r, g, b) rows; see bmp_pixel_stats."""
    s = c = 0
    for y, row in enumerate(rows):
        for x, (r, g, b) in enumerate(row):
            s += r + g + b
            c += (y * width + x + 1) * (r * 65536 + g * 256 + b)
    return s, c


def bmp_pixel_stats(df: DataFrame) -> DataFrame:
    """Integer pixel statistics over raster payloads (BMP or PNG,
    magic-byte dispatch): sum of all channel values plus a
    position-weighted checksum
    (sum over top-down raster order of (y*width + x + 1) *
    (r*65536 + g*256 + b)) — any transposition, flip, or channel swap
    changes it, so an oracle match pins the exact raster."""
    from connect_spark.text.media_codecs import (
        decode_raster_pixels as decode_bmp_pixels,
    )

    def stats(media_id, payload):
        d = decode_bmp_pixels(bytes(payload))
        w = d["width"]
        return [(media_id, w, d["height"], *_rgb_stats(w, d["pixels"]))]

    return flat_map(
        df.select("media_id", "payload"), PIXEL_STATS_SCHEMA, stats)


GIF_FRAME_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("sum_rgb", T.LongType()),
        T.StructField("pos_checksum", T.LongType()),
    ]
)


def gif_frame_stats(df: DataFrame, frame_idx: int) -> DataFrame:
    """REAL animated-GIF frame sampling: decode the GIF (block walk +
    LZW), select frame `frame_idx`, expand palette indices to RGB,
    and reduce to the same integer position-weighted checksum as
    bmp_pixel_stats — so an oracle match pins the exact decoded frame
    raster, palette mapping included.  Negative frame_idx counts from
    the end (Python slicing convention)."""
    from connect_spark.text.media_codecs import decode_gif_frames

    def stats(media_id, payload):
        d = decode_gif_frames(bytes(payload))
        pal = d["palettes"][frame_idx]  # frame's effective table
        rows = ([pal[i] for i in row] for row in d["frames"][frame_idx])
        w = d["width"]
        return [(media_id, len(d["frames"]), w, d["height"],
                 *_rgb_stats(w, rows))]

    return flat_map(
        df.select("media_id", "payload"), GIF_FRAME_STATS_SCHEMA, stats)


def avi_frame_stats(df: DataFrame, frame_idx: int) -> DataFrame:
    """REAL MJPEG-in-AVI frame sampling: walk the RIFF container,
    decode every 00dc chunk as a baseline JPEG
    (media_codecs.decode_avi_frames), select frame `frame_idx`, and
    reduce to the same integer position-weighted checksum as
    bmp_pixel_stats — an oracle match pins the exact decoded frame
    raster through container walk + entropy decode + IDCT + color
    conversion.  Same output schema as gif_frame_stats."""
    from connect_spark.text.media_codecs import decode_avi_frames

    def stats(media_id, payload):
        d = decode_avi_frames(bytes(payload))
        w = d["width"]
        return [(media_id, d["n_frames"], w, d["height"],
                 *_rgb_stats(w, d["frames"][frame_idx]))]

    return flat_map(
        df.select("media_id", "payload"), GIF_FRAME_STATS_SCHEMA, stats)


AUDIO_WINDOW_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("win_idx", T.IntegerType()),
        T.StructField("n_samples", T.IntegerType()),
        T.StructField("energy", T.LongType()),
        T.StructField("zero_crossings", T.IntegerType()),
    ]
)


def wav_window_features(df: DataFrame, window: int = 16) -> DataFrame:
    """Windowed audio feature extraction over PCM RIFF/WAVE payloads
    (REAL decode via media_codecs.decode_wav): per fixed-size sample
    window, exact integer energy (sum of squared samples) and strict
    zero crossings (adjacent pairs with s[i-1]*s[i] < 0, pairs within
    the window only).  One-to-many mapInPandas — a row per (media,
    window) — mirroring sample_frames' explode shape, with every
    output value integer so oracles recompute it bit-for-bit."""
    from connect_spark.text.media_codecs import decode_wav

    def windows(media_id, payload):
        samples = decode_wav(bytes(payload))["samples"]
        for w0 in range(0, len(samples), window):
            seg = samples[w0:w0 + window]
            yield (media_id, w0 // window, len(seg),
                   sum(s * s for s in seg),
                   sum(1 for i in range(1, len(seg))
                       if seg[i - 1] * seg[i] < 0))

    return flat_map(
        df.select("media_id", "payload"), AUDIO_WINDOW_SCHEMA, windows)
