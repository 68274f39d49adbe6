"""Multimodal tests: real stdlib PNG/BMP/WAV codecs over real containers
(the synthetic media table emits actual images/audio since round 5);
formats without a stdlib codec exercise the deterministic fake path."""

import binascii
import struct
import zlib

import pytest

from syncmaven_spark.operators.multimodal import (
    extract_features,
    resize_images,
    sample_video_frames,
    synthetic_media_df,
)


def _png_chunk(ctype, data):
    body = ctype + data
    return struct.pack(">I", len(data)) + body + struct.pack(
        ">I", binascii.crc32(body) & 0xFFFFFFFF)


@pytest.fixture(scope="module")
def media(spark):
    return synthetic_media_df(spark, n=10)


def test_extract_features_deterministic_and_unit_norm(media):
    out1 = extract_features(media, feature_dim=16).collect()
    out2 = extract_features(media, feature_dim=16).collect()
    by_id1 = {r.media_id: r.features for r in out1}
    by_id2 = {r.media_id: r.features for r in out2}
    assert by_id1 == by_id2  # deterministic fake decoder
    for feats in by_id1.values():
        assert len(feats) == 16
        norm = sum(x * x for x in feats) ** 0.5
        assert abs(norm - 1.0) < 1e-5
    assert all(r.decode_ok for r in out1)


def test_extract_features_decode_failure_nulls_row(spark, media):
    def flaky_decoder(blob, dim):
        # synthetic images alternate PNG/BMP containers: fail the BMPs
        if blob[:2] == b"BM":
            raise ValueError("corrupt media")
        from syncmaven_spark.operators.multimodal import _fake_decode

        return _fake_decode(blob, dim)

    out = extract_features(media, feature_dim=8, decoder=flaky_decoder).collect()
    failed = [r for r in out if not r.decode_ok]
    ok = [r for r in out if r.decode_ok]
    assert failed and ok  # both paths exercised
    assert all(r.features is None for r in failed)
    assert all(r.features is not None for r in ok)


def test_resize_updates_meta_and_content(media):
    from syncmaven_spark.operators.multimodal import decode_bmp, decode_png

    out = resize_images(media, 32, 24).collect()
    for r in out:
        assert r.meta.width == 32 and r.meta.height == 24
        blob = bytes(r.content)
        # real containers really resize; anything else gets the marker
        if blob[:2] == b"BM":
            assert decode_bmp(blob).shape == (24, 32, 3)
        elif blob[:8] == b"\x89PNG\r\n\x1a\n":
            assert decode_png(blob).shape == (24, 32, 3)
        else:
            assert blob.startswith(b"RESIZED:32x24:")


def test_sample_video_frames_expands_rows(spark):
    media = synthetic_media_df(spark, n=4, media_type="video")
    out = sample_video_frames(media, every_ms=1000).collect()
    # duration 4000+i*500 → 4..5 frames per video (int division)
    by_id = {}
    for r in out:
        by_id.setdefault(r.media_id, []).append(r)
    assert {mid: len(rows) for mid, rows in by_id.items()} == {0: 4, 1: 4, 2: 5, 3: 5}
    for rows in by_id.values():
        assert sorted(r.frame_idx for r in rows) == list(range(len(rows)))
        assert all(r.frame is not None for r in rows)


def test_bmp_codec_roundtrip():
    """decode_bmp/encode_bmp are real stdlib parsers: odd widths exercise
    the 4-byte row padding, and both bottom-up and top-down layouts read
    back to the same RGB array."""
    import numpy as np

    from syncmaven_spark.operators.multimodal import decode_bmp, encode_bmp

    rng = np.random.RandomState(7)
    px = rng.randint(0, 256, (13, 7, 3), dtype=np.uint8)
    blob = encode_bmp(px)
    assert blob[:2] == b"BM"
    assert (decode_bmp(blob) == px).all()
    # top-down variant (negative height) decodes identically
    import struct

    hdr = bytearray(blob)
    height = struct.unpack_from("<i", hdr, 22)[0]
    struct.pack_into("<i", hdr, 22, -height)
    data = np.frombuffer(blob, np.uint8, offset=54).reshape(13, -1)[::-1].tobytes()
    assert (decode_bmp(bytes(hdr[:54]) + data) == px).all()
    import pytest as _pytest

    with _pytest.raises(ValueError):
        decode_bmp(b"BM" + b"\x00" * 60)  # zero dimensions
    with _pytest.raises(ValueError):
        decode_bmp(blob[:40])  # truncated


def test_extract_features_real_bmp_and_wav(spark):
    """The default decoder produces CONTENT-derived features for BMP/WAV:
    identical pixels ⇒ identical features even from different byte
    encodings, and a brighter image shifts the luminance stats."""
    import io
    import wave

    import numpy as np

    from syncmaven_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_bmp,
        encode_bmp,
        extract_features,
    )

    rng = np.random.RandomState(1)
    dark = rng.randint(0, 100, (16, 16, 3), dtype=np.uint8)
    bright = np.clip(dark.astype(int) + 120, 0, 255).astype(np.uint8)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(8000)
        t = np.arange(4000)
        wf.writeframes((np.sin(t) * 20000).astype("<i2").tobytes())
    rows = [
        (0, encode_bmp(dark), {"media_type": "image", "format": "bmp",
                               "width": 16, "height": 16, "duration_ms": None}),
        (1, encode_bmp(bright), {"media_type": "image", "format": "bmp",
                                 "width": 16, "height": 16, "duration_ms": None}),
        (2, buf.getvalue(), {"media_type": "audio", "format": "wav",
                             "width": None, "height": None, "duration_ms": 500}),
        (3, b"\x89PNG fake", {"media_type": "image", "format": "png",
                              "width": 1, "height": 1, "duration_ms": None}),
    ]
    out = {
        r.media_id: r
        for r in extract_features(
            spark.createDataFrame(rows, MEDIA_SCHEMA), feature_dim=32
        ).collect()
    }
    assert all(out[i].decode_ok for i in range(4))
    f_dark, f_bright = np.array(out[0].features), np.array(out[1].features)
    assert not np.allclose(f_dark, f_bright)  # content-derived, not hash
    # same pixels in a DIFFERENT byte encoding (top-down row order) must
    # feature identically — content-derived, not blob-hash-derived
    import struct

    from syncmaven_spark.operators.multimodal import default_decode

    blob = encode_bmp(dark)
    hdr = bytearray(blob[:54])
    struct.pack_into("<i", hdr, 22, -struct.unpack_from("<i", hdr, 22)[0])
    flipped = np.frombuffer(blob, np.uint8, offset=54).reshape(16, -1)[::-1]
    top_down = bytes(hdr) + flipped.tobytes()
    assert top_down != blob
    assert np.allclose(
        f_dark, default_decode(top_down, 32).astype(np.float32), atol=1e-6
    )
    for i in range(4):
        assert abs(np.linalg.norm(np.array(out[i].features)) - 1.0) < 1e-5


def test_resize_really_resizes_bmp(media, spark):
    """BMP content is actually resized (decoded dims change), metadata
    follows; non-BMP content still gets the marker stub."""
    import numpy as np

    from syncmaven_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_bmp,
        encode_bmp,
        resize_images,
    )

    rng = np.random.RandomState(3)
    px = rng.randint(0, 256, (48, 64, 3), dtype=np.uint8)
    rows = [(0, encode_bmp(px), {"media_type": "image", "format": "bmp",
                                 "width": 64, "height": 48, "duration_ms": None})]
    out = resize_images(
        spark.createDataFrame(rows, MEDIA_SCHEMA), 32, 24
    ).collect()[0]
    resized = decode_bmp(bytes(out.content))
    assert resized.shape == (24, 32, 3)
    assert out.meta.width == 32 and out.meta.height == 24
    # nearest-neighbor: every output pixel exists in the source
    assert resized[0, 0] in px.reshape(-1, 3)


def test_png_codec_roundtrip_and_filters():
    """decode_png is a real stdlib parser: round-trip via encode_png, plus
    a hand-filtered image exercising every PNG filter type (Sub/Up/
    Average/Paeth) against the spec's recurrences."""
    import numpy as np

    from syncmaven_spark.operators.multimodal import decode_png, encode_png

    rng = np.random.RandomState(7)
    px = rng.randint(0, 256, size=(5, 7, 3), dtype=np.uint8)
    assert (decode_png(encode_png(px)) == px).all()

    # hand-build a PNG whose 5 scanlines use filters 0,1,2,3,4: forward-
    # filter the known recon per the spec, then decode must invert exactly
    h, w, bpp = px.shape[0], px.shape[1], 3
    recon = px.reshape(h, w * bpp).astype(np.int32)
    raw = bytearray()
    for y, f in enumerate([0, 1, 2, 3, 4]):
        raw.append(f)
        prior = recon[y - 1] if y > 0 else np.zeros(w * bpp, dtype=np.int32)
        for x in range(w * bpp):
            a = recon[y][x - bpp] if x >= bpp else 0
            b = prior[x]
            c = prior[x - bpp] if x >= bpp else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) >> 1
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            raw.append((int(recon[y][x]) - int(pred)) & 0xFF)

    blob = (b"\x89PNG\r\n\x1a\n"
            + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
            + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
            + _png_chunk(b"IEND", b""))
    assert (decode_png(blob) == px).all()

    # RGBA: alpha dropped, RGB planes pixel-true
    rgba = rng.randint(0, 256, size=(4, 3, 4), dtype=np.uint8)
    raw4 = b"".join(b"\x00" + rgba[y].tobytes() for y in range(4))
    blob4 = (b"\x89PNG\r\n\x1a\n"
             + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 3, 4, 8, 6, 0, 0, 0))
             + _png_chunk(b"IDAT", zlib.compress(raw4))
             + _png_chunk(b"IEND", b""))
    assert (decode_png(blob4) == rgba[:, :, :3]).all()

    # grayscale replicates to 3 channels
    gray = rng.randint(0, 256, size=(3, 5, 1), dtype=np.uint8)
    rawg = b"".join(b"\x00" + gray[y].tobytes() for y in range(3))
    blobg = (b"\x89PNG\r\n\x1a\n"
             + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 5, 3, 8, 0, 0, 0, 0))
             + _png_chunk(b"IDAT", zlib.compress(rawg))
             + _png_chunk(b"IEND", b""))
    assert (decode_png(blobg) == np.repeat(gray, 3, axis=2)).all()

    with pytest.raises(ValueError):
        decode_png(b"\x89PNG\r\n\x1a\n")  # no chunks
    with pytest.raises(ValueError):
        # 16-bit depth rejected
        decode_png(b"\x89PNG\r\n\x1a\n"
                   + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0))
                   + _png_chunk(b"IDAT", zlib.compress(b"\x00" * 26))
                   + _png_chunk(b"IEND", b""))


def test_extract_features_png_pixel_true(spark):
    """PNG features must be derived from PIXELS, not bytes: the same image
    encoded as PNG and BMP (different bytes) must produce IDENTICAL
    features, and differ from a different image's features."""
    import numpy as np

    from syncmaven_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        encode_bmp,
        encode_png,
        extract_features,
    )

    rng = np.random.RandomState(3)
    img_a = rng.randint(0, 256, size=(16, 12, 3), dtype=np.uint8)
    img_b = rng.randint(0, 256, size=(16, 12, 3), dtype=np.uint8)
    meta = {"media_type": "image", "format": "png", "width": 12,
            "height": 16, "duration_ms": None}
    df = spark.createDataFrame(
        [(0, encode_png(img_a), meta), (1, encode_bmp(img_a), meta),
         (2, encode_png(img_b), meta)],
        MEDIA_SCHEMA,
    )
    out = {r.media_id: r for r in extract_features(df, feature_dim=32).collect()}
    assert all(out[i].decode_ok for i in range(3))
    assert out[0].features == out[1].features  # same pixels, two containers
    assert out[0].features != out[2].features


def test_resize_really_resizes_png(spark):
    import numpy as np

    from syncmaven_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_png,
        encode_png,
        resize_images,
    )

    rng = np.random.RandomState(11)
    px = rng.randint(0, 256, size=(8, 6, 3), dtype=np.uint8)
    rows = [(0, encode_png(px), {"media_type": "image", "format": "png",
                                 "width": 6, "height": 8, "duration_ms": None})]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = resize_images(df, width=3, height=4).collect()[0]
    resized = decode_png(bytes(out.content))
    ys, xs = (np.arange(4) * 8) // 4, (np.arange(3) * 6) // 3
    assert (resized == px[ys][:, xs]).all()  # exact nearest-neighbor remap
    assert out.meta.width == 3 and out.meta.height == 4


def test_image_codec_roundtrip_property():
    """Property: encode→decode is the identity for any 8-bit RGB image
    (both containers, odd/even dims exercising BMP row padding and PNG
    scanline boundaries)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    import numpy as np

    from syncmaven_spark.operators.multimodal import (
        decode_bmp,
        decode_png,
        encode_bmp,
        encode_png,
    )

    @given(
        h=st.integers(1, 24),
        w=st.integers(1, 24),
        seed=st.integers(0, 2**31 - 1),
    )
    @settings(max_examples=60, deadline=None)
    def check(h, w, seed):
        px = np.random.RandomState(seed).randint(
            0, 256, size=(h, w, 3), dtype=np.uint8
        )
        assert (decode_png(encode_png(px)) == px).all()
        assert (decode_bmp(encode_bmp(px)) == px).all()

    check()


def test_png_malformed_ihdr_raises_value_error_and_resize_falls_back(spark):
    """A wrong-length IHDR raised struct.error, escaping
    the resizer's malformed-blob catch and killing the whole task."""
    from syncmaven_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_png,
        resize_images,
    )

    bad = (b"\x89PNG\r\n\x1a\n"
           + _png_chunk(b"IHDR", b"\x00" * 10)  # 10-byte IHDR payload, not 13
           + _png_chunk(b"IDAT", b"x")
           + _png_chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="IHDR"):
        decode_png(bad)
    # one bad blob must not abort a corpus-wide resize pass
    df = spark.createDataFrame(
        [(0, bad, {"media_type": "image", "format": "png", "width": 1,
                   "height": 1, "duration_ms": None})], MEDIA_SCHEMA)
    out = resize_images(df, width=2, height=2).collect()[0]
    assert bytes(out.content).startswith(b"RESIZED:2x2:")


def test_png_inflate_bounded_to_declared_size():
    """The IDAT inflate is capped at the declared pixel
    size, so a decompression bomb cannot allocate past it (trailing
    inflated bytes beyond the declared size are ignored, as before)."""
    import numpy as np

    from syncmaven_spark.operators.multimodal import decode_png

    px = np.arange(2 * 2 * 3, dtype=np.uint8).reshape(2, 2, 3)
    raw = b"".join(b"\x00" + px[y].tobytes() for y in range(2))
    # append 64 MB of zeros INSIDE the compressed stream: decode must
    # still succeed, reading only the declared 2x2 image
    blob = (b"\x89PNG\r\n\x1a\n"
            + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0))
            + _png_chunk(b"IDAT", zlib.compress(raw + b"\x00" * (64 << 20)))
            + _png_chunk(b"IEND", b""))
    assert len(blob) < 200_000  # the bomb compresses tiny
    assert (decode_png(blob) == px).all()
