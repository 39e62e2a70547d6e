"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata.

Every operator is a per-row function run by `_map_rows`: the package is
shipped to the Python workers, the input narrows to (id, value), and
Arrow batches flow through `mapInPandas` with an explicit output schema,
so the Python stage sees whole batches, never Spark rows.  Image decode
is REAL for PNG via the pure-stdlib codec in `png_codec` (zlib +
scanline unfiltering) and for baseline and progressive JPEG via
`jpeg_codec` (Huffman + IDCT); both encode too, so round-trips are
self-contained.  Formats that genuinely need a codec library the
container does not ship raise NotImplementedError from `decode_image`.
Swapping PIL/libvips in changes one function, not the plumbing.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..shipping import ensure_package_on_executors

PAYLOAD = "payload"
ENCODED_SCHEMA = f"id bigint, {PAYLOAD} binary"
SAMPLE_RATE = 16000


def _map_rows(df: DataFrame, id_col: str, in_col: str, schema: str, rows) -> DataFrame:
    """Arrow-batched mapInPandas over the (id_col, in_col) pairs of `df`:
    `rows(id, value)` yields output tuples in `schema` order, zero or more
    per input row (frame extraction fans out).  The per-row functions
    touch module-level package functions, which cloudpickle ships BY
    REFERENCE, so the package must be importable inside the Python
    workers (ensure_package_on_executors = programmatic --py-files; a
    vanilla driver session has no repo on its worker path)."""
    ensure_package_on_executors(df.sparkSession)
    columns = [field.split()[0] for field in schema.split(",")]

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = [t for i, v in zip(pdf[id_col], pdf[in_col]) for t in rows(i, v)]
            yield pd.DataFrame(out, columns=columns)

    return df.select(id_col, in_col).mapInPandas(compute, schema)


def with_binary_payload(df: DataFrame, text_col: str) -> DataFrame:
    """Treat a string column as an opaque utf-8 binary `payload` column
    (stand-in for real media bytes in the test corpus)."""
    return df.withColumn(PAYLOAD, F.encode(F.col(text_col), "UTF-8"))


MEDIA_META_SCHEMA = "id bigint, byte_len bigint, prefix_hex string"


def media_metadata(df: DataFrame, id_col: str) -> DataFrame:
    """Byte-level metadata of each payload: (id, byte_len, prefix_hex of
    the first 4 bytes — where a magic-number sniffer would run)."""

    def rows(i, b):
        yield i, len(b), bytes(b)[:4].hex().upper()

    return _map_rows(df, id_col, PAYLOAD, MEDIA_META_SCHEMA, rows)


FRAME_SCHEMA = "id bigint, frame_idx int, frame_len int, frame_md5 string"


def frame_extract(
    df: DataFrame,
    id_col: str,
    frame_bytes: int = 256,
    stride: int = 1,
) -> DataFrame:
    """Audio/video frame sampling over opaque media bytes: chunk the payload
    into fixed `frame_bytes` frames, keep every `stride`-th one (keyframe
    sampling), fingerprint each (md5 over the frame's uppercase hex — a
    cross-engine-stable stand-in for a perceptual hash). A real decoder
    (ffmpeg frame grab, PCM windowing) replaces only the per-row function.
    One input row fans out to ceil(len/frame_bytes)/stride output rows —
    partition sizing must account for the multiplier, exactly like real
    frame extraction."""

    def rows(i, b):
        bb = bytes(b)
        n_frames = (len(bb) + frame_bytes - 1) // frame_bytes
        for fi in range(0, n_frames, stride):
            fr = bb[fi * frame_bytes : (fi + 1) * frame_bytes]
            yield i, fi, len(fr), hashlib.md5(fr.hex().upper().encode()).hexdigest()

    return _map_rows(df, id_col, PAYLOAD, FRAME_SCHEMA, rows)


def decode_image(payload: bytes) -> dict:
    """Image decode.  PNG payloads are decoded FOR REAL by the pure-
    stdlib codec in `png_codec` (zlib + scanline unfiltering), JPEG
    payloads — baseline AND progressive — by the pure-stdlib codec in
    `jpeg_codec` (Huffman + spectral selection/successive approximation
    + dequant + IDCT, 4:4:4/4:2:0, restart markers) — no media library
    needed for either.  Arithmetic-coded/lossless JPEG and other formats
    still raise (NotImplementedError names the mode); a real deployment
    swaps PIL/libvips in here without touching the mapInPandas
    plumbing."""
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        from .png_codec import decode_png

        return decode_png(payload)
    if payload[:2] == b"\xff\xd8":
        from .jpeg_codec import decode_jpeg

        return decode_jpeg(bytes(payload))
    raise NotImplementedError(
        "only PNG and baseline/progressive JPEG are decodable without a "
        f"codec library; got magic {bytes(payload[:4]).hex()}"
    )


def encode_embedding_png(
    df: DataFrame, id_col: str, vec_col: str, side: int = 8
) -> DataFrame:
    """Render each `side*side`-dim float vector as a real side x side
    grayscale PNG payload (the synthetic stand-in for an image column
    with verifiable ground truth): pixel = clamp(floor((x + 1.0) * 127.5),
    0, 255) computed in float64 — IEEE-exact, so an oracle can recompute
    the quantization from the raw floats.  The per-row scanline filter
    cycles through all five PNG predictors (id % 5) so the decode path's
    every filter branch runs in production, not just in unit tests."""
    from .png_codec import encode_png

    def rows(i, vec):
        a = np.asarray(vec, dtype=np.float64)
        px = np.clip(np.floor((a + 1.0) * 127.5), 0, 255).astype(np.uint8)
        yield i, encode_png(px.reshape(side, side), filter_type=int(i) % 5)

    return _map_rows(df, id_col, vec_col, ENCODED_SCHEMA, rows)


def encode_embedding_jpeg(
    df: DataFrame, id_col: str, vec_col: str, progressive: bool = False
) -> DataFrame:
    """Render the first 4 dims of each float vector as a real 16x16
    grayscale baseline JPEG of four uniform 8x8 quadrants, value
    v_k = 64 + 2*clamp(floor((x_k + 1.0) * 31.5), 0, 63).

    The even level offset makes the round-trip EXACT despite JPEG being
    lossy: a uniform block's only nonzero coefficient is DC = 8*(v-128),
    and with v-128 even that is an exact multiple of the Annex K luma
    table's Q[0,0] = 16 — quantization loses nothing, so an oracle can
    recompute every decoded pixel from the raw floats in integer SQL.
    Rows with id % 3 == 0 are encoded with a restart interval of 1 so
    the decoder's DRI/RSTn resync path runs in production, not just in
    unit tests (the PNG query cycles filters the same way).  With
    `progressive=True` the payload is a SOF2 multi-scan stream
    (spectral selection + successive approximation) carrying the same
    quantized spectrum — the decoded pixels, and therefore the oracle,
    are identical to the baseline payload's."""
    from .jpeg_codec import encode_jpeg, encode_jpeg_progressive

    def rows(i, vec):
        a = np.asarray(vec, dtype=np.float64)[:4]
        v = 64 + 2 * np.clip(np.floor((a + 1.0) * 31.5), 0, 63).astype(np.int64)
        img = np.zeros((16, 16), dtype=np.uint8)
        img[0:8, 0:8] = v[0]
        img[0:8, 8:16] = v[1]
        img[8:16, 0:8] = v[2]
        img[8:16, 8:16] = v[3]
        if progressive:
            yield i, encode_jpeg_progressive(img)
        else:
            yield i, encode_jpeg(img, restart_interval=1 if int(i) % 3 == 0 else 0)

    return _map_rows(df, id_col, vec_col, ENCODED_SCHEMA, rows)


JPEG_BLOCK_STATS_SCHEMA = (
    "id bigint, width int, height int, mode string, "
    "b0 bigint, b1 bigint, b2 bigint, b3 bigint, px_sum bigint"
)


def image_jpeg_block_stats(df: DataFrame, id_col: str) -> DataFrame:
    """Decode JPEG payloads with the real codec and reduce to exact
    per-quadrant means plus the whole-image pixel sum (oracle-
    recomputable for the DC-exact payloads of `encode_embedding_jpeg`;
    px_sum catches any single mis-decoded pixel)."""

    def rows(i, b):
        d = decode_image(bytes(b))
        px = d["pixels"][:, :, 0].astype("int64")
        yield (
            int(i),
            d["width"],
            d["height"],
            d["mode"],
            int(px[0:8, 0:8].sum() // 64),
            int(px[0:8, 8:16].sum() // 64),
            int(px[8:16, 0:8].sum() // 64),
            int(px[8:16, 8:16].sum() // 64),
            int(px.sum()),
        )

    return _map_rows(df, id_col, PAYLOAD, JPEG_BLOCK_STATS_SCHEMA, rows)


def box_resize(pixels, factor: int):
    """Exact integer box-filter downsample: each factor x factor block
    maps to floor(mean) — sum // factor², so an oracle can recompute the
    result in pure integer SQL.  pixels: HxWxC uint8, H and W divisible
    by factor."""
    a = np.asarray(pixels, dtype=np.int64)
    h, w, ch = a.shape
    if h % factor or w % factor:
        raise ValueError(f"{h}x{w} not divisible by factor {factor}")
    blocks = a.reshape(h // factor, factor, w // factor, factor, ch)
    return (blocks.sum(axis=(1, 3)) // (factor * factor)).astype(np.uint8)


IMAGE_RESIZE_STATS_SCHEMA = (
    "id bigint, width int, height int, rs_sum bigint, rs_min int, rs_max int"
)


def image_resize_stats(df: DataFrame, id_col: str, factor: int = 2) -> DataFrame:
    """Decode → box-filter resize → exact stats, the resize leg of the
    multimodal brief: PNG payloads are decoded by the real codec,
    downsampled `factor`x with the integer box filter, and reduced to
    sum/min/max over the RESIZED pixels (oracle-recomputable)."""

    def rows(i, b):
        r = box_resize(decode_image(bytes(b))["pixels"], factor)
        yield (
            int(i),
            r.shape[1],
            r.shape[0],
            int(r.astype("int64").sum()),
            int(r.min()),
            int(r.max()),
        )

    return _map_rows(df, id_col, PAYLOAD, IMAGE_RESIZE_STATS_SCHEMA, rows)


def encode_pcm_wav(samples, sample_rate: int = SAMPLE_RATE) -> bytes:
    """Write a real mono 16-bit PCM WAV (stdlib `wave` module — no media
    library) from an int16 sample array."""
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(np.asarray(samples, dtype="<i2").tobytes())
    return buf.getvalue()


def decode_pcm_wav(payload: bytes) -> dict:
    """Parse a WAV payload with the stdlib `wave` reader: returns
    {sample_rate, n_samples, samples: int16 ndarray}.  Mono 16-bit PCM
    only — anything else raises ValueError naming the field."""
    import io
    import wave

    with wave.open(io.BytesIO(bytes(payload)), "rb") as w:
        if w.getnchannels() != 1:
            raise ValueError(f"unsupported channels {w.getnchannels()}")
        if w.getsampwidth() != 2:
            raise ValueError(f"unsupported sample width {w.getsampwidth()}")
        n = w.getnframes()
        samples = np.frombuffer(w.readframes(n), dtype="<i2")
        return {"sample_rate": w.getframerate(), "n_samples": n, "samples": samples}


def encode_embedding_wav(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Render each float vector as a real PCM16 WAV payload at
    SAMPLE_RATE: sample = clamp(floor(x * 32767), -32768, 32767) in
    float64 — IEEE-exact, so an oracle can recompute every sample from
    the raw floats."""

    def rows(i, vec):
        a = np.asarray(vec, dtype=np.float64)
        s = np.clip(np.floor(a * 32767.0), -32768, 32767).astype(np.int16)
        yield i, encode_pcm_wav(s)

    return _map_rows(df, id_col, vec_col, ENCODED_SCHEMA, rows)


AUDIO_FEATURES_SCHEMA = (
    "id bigint, sample_rate int, n_samples int, "
    "sum_abs bigint, peak int, zero_crossings int"
)


def audio_features(df: DataFrame, id_col: str) -> DataFrame:
    """REAL audio decode-and-extract: WAV payloads are parsed by the
    stdlib reader and reduced to exact integer signal features — total
    absolute amplitude, peak |amplitude|, and strict zero crossings
    (sign product < 0) — each recomputable by an oracle from the
    pre-encode samples because PCM is lossless."""

    def rows(i, b):
        d = decode_pcm_wav(b)
        s = d["samples"].astype(np.int64)
        yield (
            int(i),
            d["sample_rate"],
            d["n_samples"],
            int(np.abs(s).sum()),
            int(np.abs(s).max()) if len(s) else 0,
            int(((s[:-1] * s[1:]) < 0).sum()) if len(s) > 1 else 0,
        )

    return _map_rows(df, id_col, PAYLOAD, AUDIO_FEATURES_SCHEMA, rows)


IMAGE_PIXEL_STATS_SCHEMA = (
    "id bigint, width int, height int, mode string, "
    "px_sum bigint, px_min int, px_max int"
)


def image_pixel_stats(df: DataFrame, id_col: str) -> DataFrame:
    """REAL decode-and-extract: each payload is decoded by the pure-stdlib
    PNG codec and reduced to exact pixel statistics (sum / min / max over
    every sample of every channel) — lossless-codec ground truth an
    oracle can recompute from the pre-encode values."""

    def rows(i, b):
        f = decode_image(bytes(b))
        yield (
            i,
            f["width"],
            f["height"],
            f["mode"],
            int(f["pixels"].astype("int64").sum()),
            int(f["pixels"].min()),
            int(f["pixels"].max()),
        )

    return _map_rows(df, id_col, PAYLOAD, IMAGE_PIXEL_STATS_SCHEMA, rows)
