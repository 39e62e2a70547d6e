"""Multimodal plumbing tests: binary payloads through Arrow-batched
mapInPandas, the real PNG codec, box resize and the WAV reader/writer."""

from __future__ import annotations

import pytest

from domanda_etl_spark.operators import multimodal


def test_media_metadata_roundtrip(spark):
    df = spark.createDataFrame([(1, "hello"), (2, "héllo")], "id long, text string")
    payload = multimodal.with_binary_payload(df, "text")
    out = {r["id"]: r for r in multimodal.media_metadata(payload, "id").collect()}
    assert out[1]["byte_len"] == 5
    assert out[1]["prefix_hex"] == "68656C6C"
    assert out[2]["byte_len"] == 6  # é is 2 bytes in utf-8


def test_unknown_formats_still_raise():
    # PNG and baseline JPEG are decoded for real (test_png_codec_*,
    # test_jpeg_codec.py); anything else (here: a GIF magic) stays an
    # honest NotImplementedError naming the magic bytes
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"GIF89a" + b"\x00" * 16)


def test_png_codec_roundtrip_all_filters_and_modes():
    import numpy as np

    from domanda_etl_spark.operators.png_codec import decode_png, encode_png

    rng = np.random.RandomState(7)
    for shape in [(8, 8), (5, 9, 3), (6, 4, 4), (3, 7, 2), (1, 1), (2, 1, 3)]:
        a = rng.randint(0, 256, size=shape).astype(np.uint8)
        exp = a if a.ndim == 3 else a[:, :, None]
        for ft in range(5):
            d = decode_png(encode_png(a, filter_type=ft))
            assert d["width"] == shape[1] and d["height"] == shape[0]
            assert (d["pixels"] == exp).all(), (shape, ft)


def test_png_codec_palette_and_real_decode_via_decode_image():
    import struct
    import zlib

    import numpy as np

    from domanda_etl_spark.operators.png_codec import encode_png

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)
    plte = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])
    raw = bytes([0, 0, 1]) + bytes([0, 2, 0])
    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"PLTE", plte)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    d = multimodal.decode_image(png)  # dispatches to the real codec
    assert (d["width"], d["height"], d["mode"]) == (2, 2, "RGB")
    assert d["pixels"].tolist() == [
        [[255, 0, 0], [0, 255, 0]],
        [[0, 0, 255], [255, 0, 0]],
    ]
    # corrupted CRC must be detected, not silently decoded
    bad = bytearray(png)
    bad[20] ^= 0xFF
    import pytest as _pytest

    with _pytest.raises(ValueError):
        multimodal.decode_image(bytes(bad))

    # 16-bit depth is named as unsupported
    ihdr16 = struct.pack(">IIBBBBB", 1, 1, 16, 0, 0, 0, 0)
    png16 = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr16)
        + chunk(b"IDAT", zlib.compress(b"\x00\x00\x00"))
        + chunk(b"IEND", b"")
    )
    with _pytest.raises(ValueError, match="bit depth"):
        multimodal.decode_image(png16)


def test_frame_extract_chunks_and_stride(spark):
    from domanda_etl_spark.operators import multimodal

    df = spark.createDataFrame(
        [(1, "a" * 600), (2, "b" * 256), (3, "")], "id long, text string"
    )
    payload = multimodal.with_binary_payload(df, "text")
    out = multimodal.frame_extract(payload, "id", frame_bytes=256, stride=2).collect()
    by_id = {}
    for r in out:
        by_id.setdefault(r["id"], []).append((r["frame_idx"], r["frame_len"]))
    # 600 bytes -> frames 0,1,2 (256,256,88); stride 2 keeps 0 and 2
    assert sorted(by_id[1]) == [(0, 256), (2, 88)]
    assert by_id[2] == [(0, 256)]
    assert 3 not in by_id  # empty payload -> no frames


def test_box_resize_exact_integer_means():
    import numpy as np

    from domanda_etl_spark.operators.multimodal import box_resize

    rng = np.random.RandomState(11)
    a = rng.randint(0, 256, size=(8, 6, 3)).astype(np.uint8)
    r = box_resize(a, 2)
    assert r.shape == (4, 3, 3)
    for i in range(4):
        for j in range(3):
            for c in range(3):
                block = a[2 * i : 2 * i + 2, 2 * j : 2 * j + 2, c].astype(int)
                assert r[i, j, c] == block.sum() // 4
    with pytest.raises(ValueError):
        box_resize(a, 5)  # 8x6 not divisible by 5


def test_wav_roundtrip_and_rejections():
    import io
    import wave

    import numpy as np

    from domanda_etl_spark.operators.multimodal import decode_pcm_wav, encode_pcm_wav

    s = np.array([0, 100, -32768, 32767, -1, 1], dtype=np.int16)
    d = decode_pcm_wav(encode_pcm_wav(s, sample_rate=8000))
    assert d["sample_rate"] == 8000
    assert d["n_samples"] == 6
    assert (d["samples"] == s).all()

    buf = io.BytesIO()  # stereo must be rejected, not mis-parsed
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(b"\x00\x00\x00\x00")
    with pytest.raises(ValueError, match="channels"):
        decode_pcm_wav(buf.getvalue())
