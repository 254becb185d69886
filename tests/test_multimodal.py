"""Multimodal plumbing: schemas, Arrow batching, deterministic fakes,
and the honest NotImplementedError on the real codec."""

from __future__ import annotations

import pytest

from hive_gateway_spark.operators import multimodal as mm
from hive_gateway_spark.session import load_tables


def test_decode_image_stub_is_honest():
    with pytest.raises(NotImplementedError):
        mm.decode_image(b"IMGFxxxx")


def test_decode_assets_schema_and_determinism(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    assets = mm.payloads(t)
    d1 = mm.decode_assets(assets)
    assert [f.name for f in d1.schema] == [
        "doc_id", "width", "height", "channels", "mean_byte", "n_frames",
    ]
    a = sorted(map(tuple, d1.collect()))
    b = sorted(map(tuple, mm.decode_assets(assets).collect()))
    assert a == b
    assert len(a) == t["documents"].count()
    # dims agree with the metadata struct (same derivation)
    meta = {r["doc_id"]: r for r in assets.select("doc_id", "meta.*").collect()}
    for row in a[:50]:
        doc_id, width, height = row[0], row[1], row[2]
        assert width == meta[doc_id]["width"]
        assert height == meta[doc_id]["height"]


def _ppm(w, h, px):
    return b"P6\n# test\n%d %d\n255\n" % (w, h) + bytes(px)


def _bmp24(w, h, rows_topdown):
    """Minimal uncompressed 24-bit BMP, bottom-up row order, BGR."""
    import struct

    stride = (w * 3 + 3) & ~3
    body = b""
    for row in reversed(rows_topdown):  # bottom-up
        line = b"".join(bytes([b_, g, r]) for (r, g, b_) in row)
        body += line + b"\x00" * (stride - len(line))
    pix_off = 54
    header = b"BM" + struct.pack("<IHHI", pix_off + len(body), 0, 0, pix_off)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 0, 0, 0, 0)
    return header + info + body


def test_real_decode_ppm_and_bmp(spark):
    """The decode kernel is REAL for codec-free formats: PPM P6 and
    24-bit BMP parse to exact pixels through the Spark mapInPandas path;
    unsupported formats are routed away, not faked."""
    from hive_gateway_spark.operators.multimodal import (
        decode_assets_real,
        decode_image,
        resize_image,
    )

    # 2x1 PPM: red, blue
    ppm = _ppm(2, 1, [255, 0, 0, 0, 0, 255])
    d = decode_image(ppm)
    assert (d["width"], d["height"], d["channels"]) == (2, 1, 3)
    assert d["pixels"][0, 0].tolist() == [255, 0, 0]
    assert d["pixels"][0, 1].tolist() == [0, 0, 255]

    # 2x2 BMP: white/black checkerboard; stride padding + BGR + bottom-up
    bmp = _bmp24(2, 2, [[(255, 255, 255), (0, 0, 0)], [(0, 0, 0), (255, 255, 255)]])
    d2 = decode_image(bmp)
    assert (d2["width"], d2["height"]) == (2, 2)
    assert d2["pixels"][0, 0].tolist() == [255, 255, 255]
    assert d2["pixels"][0, 1].tolist() == [0, 0, 0]
    assert d2["pixels"][1, 1].tolist() == [255, 255, 255]

    # through Spark: PPM + BMP decode, JPEG-ish payload dropped
    df = spark.createDataFrame(
        [(1, bytearray(ppm)), (2, bytearray(bmp)), (3, bytearray(b"\xff\xd8\xff fake"))],
        "doc_id bigint, payload binary",
    )
    got = {r["doc_id"]: r for r in decode_assets_real(df).collect()}
    assert set(got) == {1, 2}
    assert got[1]["width"] == 2 and got[1]["height"] == 1
    assert abs(got[1]["mean_byte"] - (255 + 255) / 6) < 1e-9
    assert got[2]["mean_byte"] == 127.5

    # real nearest-neighbor resize: 2x2 checkerboard -> 4x4 blocks
    big = resize_image(d2["pixels"], 4, 4)
    assert big.shape == (4, 4, 3)
    assert big[0, 0].tolist() == [255, 255, 255]
    assert big[0, 3].tolist() == [0, 0, 0]
    assert big[3, 3].tolist() == [255, 255, 255]


def _paeth(a, b, c):
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    return a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)


def _png(pixels, color_type):
    """Minimal PNG encoder (test-side twin of _png_decode): 8-bit,
    non-interlaced, row y filtered with type y % 5 so every filter
    branch (None/Sub/Up/Average/Paeth) is exercised in one image."""
    import struct
    import zlib

    import numpy as np

    px = np.asarray(pixels, dtype=np.uint8)
    h, w = px.shape[:2]
    ch = 1 if px.ndim == 2 else px.shape[2]
    flat = px.reshape(h, w * ch).astype(np.int32)
    bpp = ch
    raw = bytearray()
    prev = np.zeros(w * ch, dtype=np.int32)
    for y in range(h):
        line = flat[y]
        f = y % 5
        raw.append(f)
        for x in range(w * ch):
            a = int(line[x - bpp]) if x >= bpp else 0
            b = int(prev[x])
            c = int(prev[x - bpp]) if x >= bpp else 0
            pred = {0: 0, 1: a, 2: b, 3: (a + b) >> 1, 4: _paeth(a, b, c)}[f]
            raw.append((int(line[x]) - pred) & 0xFF)
        prev = line

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data))
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_png_decode_roundtrip_all_filters():
    """Exact-pixel PNG round-trip: a deterministic 7x5 RGB image encoded
    with every filter type (row y uses filter y % 5) must reconstruct
    bit-identically; same for grayscale and RGBA."""
    import numpy as np

    from hive_gateway_spark.operators.multimodal import decode_image

    rng = np.random.default_rng(42)
    rgb = rng.integers(0, 256, (5, 7, 3), dtype=np.uint8)
    d = decode_image(_png(rgb, 2))
    assert (d["width"], d["height"], d["channels"]) == (7, 5, 3)
    assert np.array_equal(d["pixels"], rgb)

    gray = rng.integers(0, 256, (4, 6), dtype=np.uint8)
    dg = decode_image(_png(gray, 0))
    assert (dg["width"], dg["height"], dg["channels"]) == (6, 4, 1)
    assert np.array_equal(dg["pixels"].reshape(4, 6), gray)

    rgba = rng.integers(0, 256, (3, 3, 4), dtype=np.uint8)
    da = decode_image(_png(rgba, 6))
    assert (da["width"], da["height"], da["channels"]) == (3, 3, 4)
    assert np.array_equal(da["pixels"], rgba)


def test_malformed_payloads_route_rows_not_fail_task(spark):
    """A corrupt payload must drop its row, never fail the Spark task
    (VERDICT r03 'What's wrong' #5): truncated PPM (frombuffer
    ValueError), truncated BMP (struct.error), PNG with truncated
    chunk/garbage zlib stream, and an empty payload — all routed, while
    the one good payload still decodes."""
    import numpy as np

    from hive_gateway_spark.operators.multimodal import (
        DECODE_ERRORS,
        decode_assets_real,
        decode_image,
    )

    good = _ppm(2, 1, [255, 0, 0, 0, 0, 255])
    bad = {
        10: b"P6\n2 2\n255\n\x01\x02",          # truncated PPM body
        11: b"BM\x00\x00",                       # truncated BMP header
        12: _png(np.zeros((2, 2, 3), np.uint8), 2)[:20],  # truncated PNG chunk
        13: b"\x89PNG\r\n\x1a\n"                 # garbage zlib stream
        + b"\x00\x00\x00\x0dIHDR" + b"\x00\x00\x00\x02" * 2 + b"\x08\x02\x00\x00\x00"
        + b"\x00\x00\x00\x00" + b"\x00\x00\x00\x04IDAT\xde\xad\xbe\xef\x00\x00\x00\x00"
        + b"\x00\x00\x00\x00IEND\x00\x00\x00\x00",
        14: b"",                                  # empty payload
        15: b"P6\n",                              # PPM with no dims
    }
    for payload in bad.values():
        with pytest.raises(DECODE_ERRORS):
            decode_image(payload)

    df = spark.createDataFrame(
        [(1, bytearray(good))] + [(k, bytearray(v)) for k, v in bad.items()],
        "doc_id bigint, payload binary",
    )
    got = {r["doc_id"]: r for r in decode_assets_real(df).collect()}
    assert set(got) == {1}
    assert got[1]["width"] == 2 and got[1]["height"] == 1


def test_real_decode_png_through_spark(spark):
    """PNG payloads decode through the mapInPandas path alongside
    PPM/BMP — mean_byte computed from real reconstructed pixels."""
    import numpy as np

    from hive_gateway_spark.operators.multimodal import decode_assets_real

    img = np.full((4, 4, 3), 200, dtype=np.uint8)
    img[0, 0] = [0, 0, 0]
    df = spark.createDataFrame(
        [(7, bytearray(_png(img, 2)))], "doc_id bigint, payload binary"
    )
    rows = decode_assets_real(df).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["width"], r["height"], r["channels"]) == (4, 4, 3)
    assert abs(r["mean_byte"] - float(img.mean())) < 1e-9


class TestJpeg:
    """Baseline JPEG codec (functions/jpeg.py — VERDICT r04 #6/r05 #8)."""

    def test_solid_color_roundtrips_exactly(self):
        import numpy as np

        from hive_gateway_spark.functions.jpeg import jpeg_decode, jpeg_encode

        img = np.full((24, 33, 3), 120, dtype=np.uint8)
        d = jpeg_decode(jpeg_encode(img, quality=95))
        assert (d["width"], d["height"], d["channels"]) == (33, 24, 3)
        assert np.array_equal(d["pixels"], img), "DC-only image must be exact"

    def test_gradient_roundtrip_bounded_error(self):
        import numpy as np

        from hive_gateway_spark.functions.jpeg import jpeg_decode, jpeg_encode

        yy, xx = np.mgrid[0:40, 0:56]
        img = np.stack(
            [(yy * 3) % 256, (xx * 2) % 256, ((yy + xx) * 2) % 256], axis=-1
        ).astype(np.uint8)
        for sub, tol in (("444", 4), ("420", 8)):
            d = jpeg_decode(jpeg_encode(img, quality=90, subsample=sub))
            err = np.abs(d["pixels"].astype(int) - img.astype(int))
            assert err.max() <= tol, (sub, err.max())

    def test_grayscale_and_odd_dims(self):
        import numpy as np

        from hive_gateway_spark.functions.jpeg import jpeg_decode, jpeg_encode

        rng = np.random.default_rng(3)
        img = rng.integers(0, 256, (17, 19)).astype(np.uint8)
        d = jpeg_decode(jpeg_encode(img, quality=95))
        assert d["channels"] == 1 and d["pixels"].shape == (17, 19, 1)
        err = np.abs(d["pixels"][..., 0].astype(int) - img.astype(int))
        assert err.mean() < 6

    def test_foreign_encoder_decodes(self):
        """A libjpeg-produced file (not our encoder) must decode: pins
        marker parsing (APP segments, 4:2:0 sampling, file-supplied
        huffman/quant tables) against an independent implementation.
        The sample is bundled under tests/data/ (ADVICE r6 #5 — the old
        host-specific path made this silently skip elsewhere); it's
        CPython's public 16×16 test_email/data/python.jpg. Decoded
        pixels are pinned as a regression baseline."""
        import os

        import numpy as np

        from hive_gateway_spark.functions.jpeg import jpeg_decode

        here = os.path.dirname(os.path.abspath(__file__))
        d = jpeg_decode(open(os.path.join(here, "data", "foreign.jpg"), "rb").read())
        assert (d["width"], d["height"], d["channels"]) == (16, 16, 3)
        assert 0 < float(d["pixels"].mean()) < 255
        pinned = np.load(os.path.join(here, "data", "foreign_jpg_pixels.npy"))
        assert np.array_equal(d["pixels"], pinned)

    def test_malformed_routes_not_raises(self, spark, sf_dir):
        """A truncated JPEG payload drops its row via DECODE_ERRORS —
        the mapInPandas task must not fail."""
        import numpy as np

        from hive_gateway_spark.functions.jpeg import jpeg_encode
        from hive_gateway_spark.operators.multimodal import decode_assets_real

        img = np.full((8, 8, 3), 77, dtype=np.uint8)
        good = jpeg_encode(img, quality=90)
        rows = [
            (1, bytearray(good)),
            (2, bytearray(good[: len(good) // 2])),  # truncated
            (3, bytearray(b"\xff\xd8\xff\xc2junk")),  # progressive-ish
        ]
        df = spark.createDataFrame(rows, "doc_id long, payload binary")
        out = decode_assets_real(df).toPandas()
        assert set(out["doc_id"]) == {1}
        assert out.iloc[0]["mean_byte"] == 77.0


def test_jpeg_roundtrip_property():
    """Property fuzz: random dims (incl. 1x1 and non-multiples of 8/16),
    both subsamplings, random content — decode must return the exact
    dims and stay within a quality-bounded error of the input."""
    import numpy as np
    from hypothesis import given, settings, strategies as st

    from hive_gateway_spark.functions.jpeg import jpeg_decode, jpeg_encode

    @settings(max_examples=25, deadline=None)
    @given(
        w=st.integers(1, 40),
        h=st.integers(1, 40),
        sub=st.sampled_from(["444", "420", "422"]),
        seed=st.integers(0, 2**31),
        smooth=st.booleans(),
    )
    def case(w, h, sub, seed, smooth):
        rng = np.random.default_rng(seed)
        if smooth:
            base = rng.integers(30, 220, 3)
            img = np.clip(
                base[None, None, :]
                + np.arange(h)[:, None, None] * 2
                + np.arange(w)[None, :, None],
                0,
                255,
            ).astype(np.uint8)
        else:
            img = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
        d = jpeg_decode(jpeg_encode(img, quality=92, subsample=sub))
        assert (d["width"], d["height"], d["channels"]) == (w, h, 3)
        if sub == "444":
            err = np.abs(d["pixels"].astype(int) - img.astype(int))
        else:  # 420/422: chroma is subsampled — bound the full-res luma
            # 4:2:0 box-averages chroma (per-pixel chroma on noise is
            # unrecoverable BY DESIGN — real JPEG behaves identically);
            # luma is full-resolution in both modes, so it carries the
            # quality bound.
            def luma(a):
                return (
                    0.299 * a[..., 0] + 0.587 * a[..., 1] + 0.114 * a[..., 2]
                )

            err = np.abs(luma(d["pixels"].astype(float)) - luma(img.astype(float)))
        assert err.mean() < 12, (sub, smooth, err.mean())

    case()


def test_jpeg_progressive_equals_baseline_twin():
    """tests/data/{progressive,baseline}.jpg are ImageIO encodings of
    the SAME image with identical tables — progressive encoding is a
    scan-reordering of the identical quantized coefficients, so our
    decoder must produce pixel-IDENTICAL output for both. This pins the
    whole progressive machinery (DC/AC first scans, successive-
    approximation refinement, EOB runs) against a foreign encoder."""
    import os

    import numpy as np

    from hive_gateway_spark.functions.jpeg import jpeg_decode

    d = os.path.join(os.path.dirname(__file__), "data")
    prog = jpeg_decode(open(os.path.join(d, "progressive.jpg"), "rb").read())
    base = jpeg_decode(open(os.path.join(d, "baseline.jpg"), "rb").read())
    assert (prog["width"], prog["height"]) == (37, 23)
    assert np.array_equal(prog["pixels"], base["pixels"])
    # and the content is the known synthetic gradient family, not noise
    assert 0 < float(prog["pixels"].mean()) < 255


def test_jpeg_zigzag_is_canonical():
    """The T.81 zigzag order, first 16 entries — a reversed-diagonal
    zigzag is invisible to same-codec round trips (encode/decode
    cancel) but scrambles every foreign file; this pin makes the
    mistake impossible to reintroduce silently."""
    from hive_gateway_spark.functions.jpeg import ZIGZAG

    assert ZIGZAG[:16].tolist() == [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    ]


def test_jpeg_foreign_decoder_agreement():
    """Cross-decoder validation: our decode of the bundled ImageIO-
    encoded progressive file must agree with ImageIO's own decode of
    it (bundled as .npy) to within chroma-upsampling differences
    (ImageIO interpolates chroma, we replicate — a few levels near
    edges, tiny mean)."""
    import os

    import numpy as np

    from hive_gateway_spark.functions.jpeg import jpeg_decode

    d = os.path.join(os.path.dirname(__file__), "data")
    truth = np.load(os.path.join(d, "progressive_imageio.npy"))
    ours = jpeg_decode(open(os.path.join(d, "progressive.jpg"), "rb").read())[
        "pixels"
    ]
    assert ours.shape == truth.shape
    err = np.abs(ours.astype(int) - truth.astype(int))
    corr = np.corrcoef(
        ours.astype(float).ravel(), truth.astype(float).ravel()
    )[0, 1]
    assert corr > 0.99, corr
    assert err.mean() < 8, err.mean()


def test_png_foreign_decoder_exact():
    """Cross-decoder PNG validation: tests/data/foreign.png was written
    by Java ImageIO (foreign filter choices); PNG is lossless so our
    decode must match ImageIO's pixel dump BIT-EXACTLY — the test that
    would have caught a self-cancelling filter/zigzag-class bug in the
    PNG path (our other PNG tests use our own test encoder)."""
    import os

    import numpy as np

    from hive_gateway_spark.operators.multimodal import decode_image

    d = os.path.join(os.path.dirname(__file__), "data")
    truth = np.load(os.path.join(d, "foreign_png_pixels.npy"))
    got = decode_image(open(os.path.join(d, "foreign.png"), "rb").read())
    assert got["pixels"].shape == truth.shape
    assert np.array_equal(got["pixels"], truth)


def test_bmp_foreign_decoder_exact():
    """Cross-decoder BMP validation (ImageIO-written, odd width →
    stride padding exercised): lossless, bit-exact required."""
    import os

    import numpy as np

    from hive_gateway_spark.operators.multimodal import decode_image

    d = os.path.join(os.path.dirname(__file__), "data")
    truth = np.load(os.path.join(d, "foreign_bmp_pixels.npy"))
    got = decode_image(open(os.path.join(d, "foreign.bmp"), "rb").read())
    assert np.array_equal(got["pixels"], truth)


def test_jpeg_fill_bytes_before_marker_decode():
    """T.81 B.1.1.2: any number of 0xFF fill bytes may pad before a
    marker code (ADVICE r6 #1). A conformant padded file must decode to
    the same pixels as the unpadded original, not misparse."""
    import numpy as np

    from hive_gateway_spark.functions.jpeg import jpeg_decode, jpeg_encode

    img = np.arange(8 * 8 * 3, dtype=np.uint8).reshape(8, 8, 3)
    data = jpeg_encode(img, quality=90)
    # pad before the first DQT marker and before EOI
    padded = data.replace(b"\xff\xdb", b"\xff\xff\xff\xdb", 1)
    padded = padded[:-2] + b"\xff\xff" + padded[-2:]
    base = jpeg_decode(data)
    dec = jpeg_decode(padded)
    assert np.array_equal(dec["pixels"], base["pixels"])


def _chunk(ctype, data):
    import struct
    import zlib

    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data))
    )


def _png_raw(w, h, depth, color_type, idat_raw, extra=b"", interlace=0):
    import struct
    import zlib

    ihdr = struct.pack(">IIBBBBB", w, h, depth, color_type, 0, 0, interlace)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", ihdr)
        + extra
        + _chunk(b"IDAT", zlib.compress(idat_raw))
        + _chunk(b"IEND", b"")
    )


def test_png_palette_decode():
    """Palette PNG (VERDICT r6 'missing' #3): PLTE lookup at depth 8 and
    sub-byte depth 4; tRNS upgrades the output to RGBA."""
    import numpy as np

    from hive_gateway_spark.operators.multimodal import decode_image

    pal = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 7, 8, 9])  # 4 entries
    idx = np.array([[0, 1, 2], [3, 2, 1]], dtype=np.uint8)
    raw = b"".join(b"\x00" + r.tobytes() for r in idx)  # filter None rows
    d = decode_image(_png_raw(3, 2, 8, 3, raw, extra=_chunk(b"PLTE", pal)))
    assert (d["width"], d["height"], d["channels"]) == (3, 2, 3)
    assert d["pixels"][0, 0].tolist() == [255, 0, 0]
    assert d["pixels"][1, 0].tolist() == [7, 8, 9]

    # depth-4 indices: two per byte, MSB first
    packed = bytes([0x01, 0x20]) + bytes([0x32, 0x10])  # rows (0,1,2),(3,2,1)
    raw4 = b"\x00" + packed[:2] + b"\x00" + packed[2:]
    d4 = decode_image(_png_raw(3, 2, 4, 3, raw4, extra=_chunk(b"PLTE", pal)))
    assert np.array_equal(d4["pixels"], d["pixels"])

    # tRNS: index 0 transparent, others default opaque
    da = decode_image(
        _png_raw(3, 2, 8, 3, raw, extra=_chunk(b"PLTE", pal) + _chunk(b"tRNS", b"\x00"))
    )
    assert da["channels"] == 4
    assert da["pixels"][0, 0].tolist() == [255, 0, 0, 0]
    assert da["pixels"][0, 1].tolist() == [0, 255, 0, 255]


def test_png_adam7_interlaced_equals_progressive_scan():
    """Adam7-interlaced PNG must decode to the SAME pixels as the
    non-interlaced encoding of the same image (pass extraction is the
    exact inverse of the decoder's scatter)."""
    import numpy as np

    from hive_gateway_spark.operators.multimodal import _ADAM7, decode_image

    rng = np.random.default_rng(11)
    for w, h, ctype, ch in ((9, 7, 2, 3), (8, 8, 6, 4), (5, 3, 0, 1), (1, 1, 2, 3)):
        px = rng.integers(0, 256, (h, w, ch), dtype=np.uint8)
        plain_raw = b"".join(b"\x00" + px[y].tobytes() for y in range(h))
        base = decode_image(_png_raw(w, h, 8, ctype, plain_raw))
        parts = []
        for x0, y0, dx, dy in _ADAM7:
            sub = px[y0::dy, x0::dx]
            if sub.size == 0:
                continue
            parts.append(b"".join(b"\x00" + sub[y].tobytes() for y in range(len(sub))))
        inter = decode_image(_png_raw(w, h, 8, ctype, b"".join(parts), interlace=1))
        assert np.array_equal(inter["pixels"], base["pixels"]), (w, h, ctype)
        assert np.array_equal(base["pixels"].reshape(h, w, ch), px)


def test_png_gray_subbyte_scaling():
    """1/2/4-bit grayscale scales to the full 8-bit range."""
    from hive_gateway_spark.operators.multimodal import decode_image

    # depth 1, 8 pixels packed in one byte: 10110001
    d = decode_image(_png_raw(8, 1, 1, 0, b"\x00\xb1"))
    assert d["pixels"].reshape(-1).tolist() == [255, 0, 255, 255, 0, 0, 0, 255]
    # depth 2: values 0..3 → 0,85,170,255
    d2 = decode_image(_png_raw(4, 1, 2, 0, b"\x00\x1b"))  # 00 01 10 11
    assert d2["pixels"].reshape(-1).tolist() == [0, 85, 170, 255]


def test_ppm_16bit_decode():
    """16-bit P6 (VERDICT r6 'missing' #3): big-endian samples, rounded
    to 8-bit via round(v·255/maxval)."""
    import numpy as np

    from hive_gateway_spark.operators.multimodal import decode_image

    vals = np.array(
        [0, 32768, 65535, 13107, 257, 52428, 65535, 0, 32768], dtype=">u2"
    )
    payload = b"P6\n3 1\n65535\n" + vals.tobytes()
    d = decode_image(payload)
    assert (d["width"], d["height"], d["channels"]) == (3, 1, 3)
    assert d["pixels"].reshape(-1).tolist() == [0, 128, 255, 51, 1, 204, 255, 0, 128]
    # maxval 1023 path
    v10 = np.array([[0, 511, 1023]], dtype=">u2")
    d10 = decode_image(b"P6\n1 1\n1023\n" + v10.tobytes())
    assert d10["pixels"].reshape(-1).tolist() == [0, 127, 255]


def test_png_16bit_decode():
    """16-bit PNG decodes through the same filter path (bpp = 2·ch
    bytes) and scales round(v·255/65535) into the 8-bit pixel domain;
    byte-level Sub filtering on 16-bit samples reconstructs exactly."""
    import numpy as np

    from hive_gateway_spark.operators.multimodal import decode_image

    vals = np.array([[0, 32768, 65535], [257, 13107, 52428]], dtype=">u2")
    # 2x1 RGB rows, filter None
    raw = b"\x00" + vals[0].tobytes() + b"\x00" + vals[1].tobytes()
    d = decode_image(_png_raw(1, 2, 16, 2, raw))
    assert (d["width"], d["height"], d["channels"]) == (1, 2, 3)
    assert d["pixels"].reshape(-1).tolist() == [0, 128, 255, 1, 51, 204]

    # Sub filter on a 2-pixel 16-bit gray row: second sample stored as
    # byte-wise delta from the first (bpp = 2)
    first = (1000).to_bytes(2, "big")
    second_val = 1003
    delta = bytes(
        (b - a) & 0xFF for a, b in zip(first, second_val.to_bytes(2, "big"))
    )
    d2 = decode_image(_png_raw(2, 1, 16, 0, b"\x01" + first + delta))
    got = d2["pixels"].reshape(-1).tolist()
    assert got == [round(1000 * 255 / 65535), round(second_val * 255 / 65535)]


def test_wav_codec_roundtrip_and_boundaries():
    """RIFF/WAV PCM: 16-bit mono/stereo and 8-bit round-trip exactly;
    word-aligned odd-size chunks parse; non-PCM tags and truncated
    containers raise the routed DECODE_ERRORS classes."""
    import struct

    import numpy as np
    import pytest

    from hive_gateway_spark.functions.wav import wav_decode, wav_encode

    rng = np.random.default_rng(3)
    mono = rng.integers(-32768, 32768, 777, dtype=np.int16)
    d = wav_decode(wav_encode(mono, 44100, 2))
    assert (d["sample_rate"], d["n_channels"], d["n_samples"]) == (44100, 1, 777)
    assert np.array_equal(d["pcm"].ravel(), mono)

    stereo = rng.integers(-32768, 32768, (100, 2), dtype=np.int16)
    d2 = wav_decode(wav_encode(stereo, 16000, 2))
    assert d2["n_channels"] == 2 and np.array_equal(d2["pcm"], stereo)

    small = rng.integers(-128, 128, 33, dtype=np.int16)  # odd data size
    d3 = wav_decode(wav_encode(small, 8000, 1))
    assert d3["sample_width"] == 1
    assert np.array_equal(d3["pcm"].ravel(), small)

    # non-PCM format tag (µ-law = 7) → honest NotImplementedError
    good = wav_encode(mono, 8000, 2)
    ulaw = bytearray(good)
    fmt_at = good.index(b"fmt ") + 8
    struct.pack_into("<H", ulaw, fmt_at, 7)
    with pytest.raises(NotImplementedError):
        wav_decode(bytes(ulaw))
    # truncated container / garbage route as ValueError
    with pytest.raises(ValueError):
        wav_decode(good[: len(good) // 2])
    with pytest.raises(ValueError):
        wav_decode(b"RIFFxxxxWAVE" + b"data\xff\xff\xff\xff")
    with pytest.raises(ValueError):
        wav_decode(b"not audio")


def test_y4m_codec_roundtrip_and_boundaries():
    """Y4M container (functions/y4m.py): bit-exact plane round trips
    across all three supported colourspaces, header metadata recovery,
    and the honest NotImplementedError / ValueError boundaries."""
    import numpy as np

    from hive_gateway_spark.functions.y4m import y4m_decode, y4m_encode

    rng = np.random.default_rng(7)
    y = rng.integers(0, 256, (6, 8, 16), dtype=np.uint8)
    u = rng.integers(0, 256, (6, 4, 8), dtype=np.uint8)
    v = rng.integers(0, 256, (6, 4, 8), dtype=np.uint8)
    d = y4m_decode(y4m_encode(y, u, v, fps=(30, 1001), colourspace="420jpeg"))
    assert d["n_frames"] == 6 and (d["width"], d["height"]) == (16, 8)
    assert d["fps"] == (30, 1001) and d["colourspace"] == "420jpeg"
    assert (d["y"] == y).all() and (d["u"] == u).all() and (d["v"] == v).all()

    full = rng.integers(0, 256, (3, 8, 16), dtype=np.uint8)
    d444 = y4m_decode(y4m_encode(y[:3], full, full, colourspace="444"))
    assert (d444["u"] == full).all()

    dm = y4m_decode(y4m_encode(y, colourspace="mono"))
    assert dm["u"] is None and (dm["y"] == y).all()

    import pytest as _pytest

    with _pytest.raises(NotImplementedError):  # interlaced
        y4m_decode(b"YUV4MPEG2 W16 H8 F25:1 It C420jpeg\n")
    with _pytest.raises(NotImplementedError):  # unsupported chroma
        y4m_decode(b"YUV4MPEG2 W16 H8 C411\nFRAME\n" + bytes(16 * 8 * 2))
    with _pytest.raises(ValueError):  # not y4m
        y4m_decode(b"RIFF....")
    with _pytest.raises(ValueError):  # truncated frame payload
        good = y4m_encode(y, u, v)
        y4m_decode(good[: len(good) - 5])
    with _pytest.raises(ValueError):  # odd geometry for 420 chroma
        y4m_decode(b"YUV4MPEG2 W15 H8 C420jpeg\n")


def test_y4m_frame_params_tolerated_overrides_rejected():
    """FRAME-level X extension params are legal Y4M; per-frame I/C
    overrides are an honest boundary."""
    import numpy as np
    import pytest as _pytest

    from hive_gateway_spark.functions.y4m import y4m_decode, y4m_encode

    y = np.arange(32, dtype=np.uint8).reshape(1, 4, 8)
    payload = y4m_encode(y, colourspace="mono")
    tagged = payload.replace(b"FRAME\n", b"FRAME Xsecret\n")
    assert (y4m_decode(tagged)["y"] == y).all()
    bad = payload.replace(b"FRAME\n", b"FRAME C444\n")
    with _pytest.raises(NotImplementedError):
        y4m_decode(bad)


def test_image_phash_planted_families(spark, sf_dir):
    """The multimodal near-dup leg: every planted 5-doc texture family
    is fully recovered (C(5,2)=10 pairs each) and NO cross-family pair
    survives the Hamming threshold — content-level dedup that byte
    hashing cannot do (the variants differ in bytes)."""
    from hive_gateway_spark.operators.multimodal import (
        PHASH_CLUSTER,
        PHASH_HAM_T,
        _synth_texture,
    )

    from hive_gateway_spark import registry

    out = registry.QUERIES["q_image_phash"](spark, sf_dir).collect()
    fam = lambda d: d // PHASH_CLUSTER  # noqa: E731
    assert all(fam(r["doc_a"]) == fam(r["doc_b"]) for r in out)
    assert all(0 <= r["hamming"] <= PHASH_HAM_T for r in out)
    from hive_gateway_spark.session import load_tables

    n_docs = load_tables(spark, sf_dir)["documents"].count()
    n_fams = n_docs // PHASH_CLUSTER
    expected = n_fams * (PHASH_CLUSTER * (PHASH_CLUSTER - 1) // 2)
    assert len(out) == expected  # full recall, no misses
    # the variants really are different BYTES (else this is exact dedup)
    a, b = _synth_texture(0), _synth_texture(1)
    assert a.tobytes() != b.tobytes()


def test_perceptual_hot_bucket_is_capped(spark):
    """Thousands of IDENTICAL hashes (one logo stamped on every page —
    the realistic hot key) must NOT quadratically explode the band
    join: the {BAND_BUCKET_CAP} membership cap drops the
    degenerate bucket from pair generation entirely, while normal
    small families in the same frame keep full recall (VERDICT r7
    task #3 — the cap the text LSH path already had, applied to the
    perceptual legs)."""
    from hive_gateway_spark.operators.dedup import BAND_BUCKET_CAP, banded_hash_pairs

    hot_n = BAND_BUCKET_CAP + 200
    rows = [(i, 0x0123456789ABCDEF) for i in range(hot_n)]
    # a healthy 3-doc family on a different hash, Hamming 0
    rows += [(10_000 + i, 0x7EADBEEFCAFE1234) for i in range(3)]
    frame = spark.createDataFrame(rows, "doc_id bigint, h bigint")
    out = banded_hash_pairs(frame, "h", 10).collect()
    # the hot family emits NOTHING (all 4 of its buckets exceed the
    # cap); without the cap it would emit C(712,2) ≈ 253k pairs
    assert all(r["doc_a"] >= 10_000 for r in out), out[:5]
    assert {(r["doc_a"], r["doc_b"]) for r in out} == {
        (10_000, 10_001),
        (10_000, 10_002),
        (10_001, 10_002),
    }
    # just UNDER the cap still pairs (the cap is a bound, not a mute)
    under = spark.createDataFrame(
        [(i, 42) for i in range(BAND_BUCKET_CAP)], "doc_id bigint, h bigint"
    )
    n = BAND_BUCKET_CAP
    assert banded_hash_pairs(under, "h", 10).count() == n * (n - 1) // 2


def test_phash_batched_synth_matches_scalar_and_codec():
    """The r11 kernel cut (VERDICT r10 "wrong" #3) must not move a
    single hash bit: the batched texture synthesis is bit-identical to
    the scalar path, and the PNG encode→decode round-trip the kernel
    used to run is byte-lossless — so dropping it from the hot path
    changes cost, not content."""
    import struct as _s
    import zlib as _z

    import numpy as np

    from hive_gateway_spark.operators.multimodal import (
        PHASH_SIZE,
        _synth_texture,
        _synth_textures,
        decode_image,
    )

    ids = np.array([0, 1, 4, 5, 99, 100, 12345], dtype=np.int64)
    batched = _synth_textures(ids)
    for n, i in enumerate(ids):
        assert (batched[n] == _synth_texture(int(i))).all(), i

    # losslessness of the removed leg, via the real codec
    def png_encode(img):
        raw = b"".join(
            b"\x00" + np.repeat(img[y][:, None], 3, axis=1).tobytes()
            for y in range(PHASH_SIZE)
        )

        def chunk(tag, data):
            return (
                _s.pack(">I", len(data)) + tag + data
                + _s.pack(">I", _z.crc32(tag + data) & 0xFFFFFFFF)
            )

        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(
                b"IHDR",
                _s.pack(">IIBBBBB", PHASH_SIZE, PHASH_SIZE, 8, 2, 0, 0, 0),
            )
            + chunk(b"IDAT", _z.compress(raw))
            + chunk(b"IEND", b"")
        )

    img = _synth_texture(7)
    assert (decode_image(png_encode(img))["pixels"][:, :, 0] == img).all()


def test_image_phash_deterministic(spark, sf_dir):
    from hive_gateway_spark.operators.multimodal import phash_frame
    from hive_gateway_spark.session import load_tables

    docs = load_tables(spark, sf_dir)["documents"]
    h1 = {r["doc_id"]: r["phash"] for r in phash_frame(docs).collect()}
    h2 = {r["doc_id"]: r["phash"] for r in phash_frame(docs).collect()}
    assert h1 == h2 and len(h1) == docs.count()


def test_audio_fingerprint_planted_families(spark, sf_dir):
    """The audio leg of perceptual dedup: every planted 5-doc clip
    family fully recovered through the real WAV codec round trip, no
    cross-family pair within the Hamming band, and the variants are
    genuinely different PCM bytes."""
    from hive_gateway_spark import registry
    from hive_gateway_spark.operators.multimodal import (
        AFP_CLUSTER,
        AFP_HAM_T,
        _synth_clip,
    )
    from hive_gateway_spark.session import load_tables

    out = registry.QUERIES["q_audio_fingerprint"](spark, sf_dir).collect()
    fam = lambda d: d // AFP_CLUSTER  # noqa: E731
    assert all(fam(r["doc_a"]) == fam(r["doc_b"]) for r in out)
    assert all(0 <= r["hamming"] <= AFP_HAM_T for r in out)
    n_docs = load_tables(spark, sf_dir)["documents"].count()
    expected = (n_docs // AFP_CLUSTER) * (AFP_CLUSTER * (AFP_CLUSTER - 1) // 2)
    assert len(out) == expected
    assert _synth_clip(0).tobytes() != _synth_clip(1).tobytes()


def test_video_fingerprint_planted_families(spark, sf_dir):
    """The video leg of perceptual dedup: every planted clip family is
    fully recovered (C(k,2) pairs each), NO cross-family pair survives
    the Hamming threshold, and the variants really are different bytes
    in every frame (else this is exact dedup)."""
    from hive_gateway_spark import registry
    from hive_gateway_spark.operators.multimodal import (
        VFP_CLUSTER,
        VFP_HAM_T,
        _synth_clips,
    )
    from hive_gateway_spark.session import load_tables

    out = registry.QUERIES["q_video_phash_dedup"](spark, sf_dir).collect()
    fam = lambda d: d // VFP_CLUSTER  # noqa: E731
    assert all(fam(r["doc_a"]) == fam(r["doc_b"]) for r in out)
    assert all(0 <= r["hamming"] <= VFP_HAM_T for r in out)
    n_docs = load_tables(spark, sf_dir)["documents"].count()
    n_fams = n_docs // VFP_CLUSTER
    expected = n_fams * (VFP_CLUSTER * (VFP_CLUSTER - 1) // 2)
    assert len(out) == expected  # full recall, no misses
    a, b = _synth_clips([0]), _synth_clips([1])
    assert a.tobytes() != b.tobytes()
    # every frame differs in bytes between variants of one family
    import numpy as np

    assert bool(np.all((a != b).any(axis=(2, 3))))


def test_video_fingerprint_deterministic(spark, sf_dir):
    from hive_gateway_spark.operators.multimodal import (
        video_fingerprint_frame,
    )
    from hive_gateway_spark.session import load_tables

    docs = load_tables(spark, sf_dir)["documents"]
    one = {r["doc_id"]: r["vfp"] for r in video_fingerprint_frame(docs).collect()}
    two = {
        r["doc_id"]: r["vfp"]
        for r in video_fingerprint_frame(
            load_tables(spark.newSession(), sf_dir)["documents"]
        ).collect()
    }
    assert one == two and len(one) > 0


def test_worker_kernels_run_without_the_package_on_the_path(tmp_path):
    """The image synthesizer and decoder run inside Python workers,
    where the package may not be importable: they ship pickled by value
    (the package __init__ registers it), so they must not import
    hive_gateway_spark lazily. Load them in a fresh interpreter whose
    sys.path lacks the package and run every doc_id % 4 container."""
    import os
    import subprocess
    import sys

    from pyspark import cloudpickle

    from hive_gateway_spark.operators.multimodal import _synth_image_payload, decode_image

    blob = tmp_path / "kernels.pkl"
    blob.write_bytes(cloudpickle.dumps((_synth_image_payload, decode_image)))
    script = """
import importlib.util, pickle, sys
assert importlib.util.find_spec("hive_gateway_spark") is None
synth, decode = pickle.loads(open(sys.argv[1], "rb").read())
for doc_id in range(100, 104):  # ppm, bmp, png, jpeg
    d = decode(synth(doc_id))
    assert (d["width"], d["height"]) == (8, 8), (doc_id, d)
    assert d["pixels"].mean() == doc_id, (doc_id, d["pixels"].mean())
"""
    path = [
        p
        for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
        if p and not os.path.isdir(os.path.join(p, "hive_gateway_spark"))
    ]
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(path))
    run = subprocess.run(
        [sys.executable, "-c", script, str(blob)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert run.returncode == 0, run.stderr
