"""Multimodal plumbing tests: binary columns through Arrow batches, stubbed
decode with error containment, metadata transforms."""

from pyspark.sql import functions as F

from extractor.ops import multimodal as mm


def test_synth_media_deterministic(spark):
    a = mm.synth_media_df(spark, n=50).collect()
    b = mm.synth_media_df(spark, n=50).collect()
    am = {r["media_id"]: bytes(r["payload"]) for r in a}
    bm = {r["media_id"]: bytes(r["payload"]) for r in b}
    assert am == bm
    row = a[0]
    assert row["meta"]["n_bytes"] == len(bytes(row["payload"]))


def test_extract_features_shapes_and_errors(spark):
    media = mm.synth_media_df(spark, n=40)
    feats = mm.extract_features(media).collect()
    assert len(feats) == 40
    ok = [r for r in feats if r["error"] is None]
    assert len(ok) == 40
    for r in ok[:5]:
        assert len(r["features"]) == mm.FEATURE_DIM
        assert all(0.0 <= x <= 1.0 for x in r["features"])

    # a non-synthetic payload must yield an error ROW (NotImplementedError
    # contained), not a job failure
    bad = spark.createDataFrame(
        [(999, b"\x89PNG not really")], "media_id long, payload binary"
    )
    out = mm.extract_features(bad).collect()
    assert out[0]["error"] is not None
    assert "codec" in out[0]["error"]


def test_real_png_bmp_payloads_decode_in_kernel(spark):
    """REAL image bytes (own stdlib PNG/BMP/JPEG codecs) flow through the
    same Arrow feature kernel as the synthetic payloads; corrupt bytes
    stay contained error rows — per-row containment, never batch
    failure."""
    import hashlib

    from extractor.imagecodec import bmp_encode, png_encode
    from extractor.jpegcodec import jpeg_encode

    def px(n, seed):
        h = hashlib.md5(seed.encode()).digest()
        return (h * (n // len(h) + 1))[:n]

    rows = [
        (1, "image", bytearray(png_encode(8, 6, px(8 * 6 * 3, "rgb"), 2)),
         {"width": 8, "height": 6, "format": "png", "n_bytes": 0}),
        (2, "image", bytearray(png_encode(5, 5, px(25, "gray"), 0)),
         {"width": 5, "height": 5, "format": "png", "n_bytes": 0}),
        (3, "image", bytearray(bmp_encode(7, 3, px(7 * 3 * 3, "bmp"))),
         {"width": 7, "height": 3, "format": "bmp", "n_bytes": 0}),
        (4, "image", bytearray(b"\xff\xd8\xff\xe0 fake jpeg"),
         {"width": 1, "height": 1, "format": "jpg", "n_bytes": 0}),
        (5, "image",
         bytearray(jpeg_encode(6, 4, bytes([90, 150, 30]) * 24, 3, 95)),
         {"width": 6, "height": 4, "format": "jpg", "n_bytes": 0}),
    ]
    media = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
    out = {r["media_id"]: r for r in mm.extract_features(media).collect()}
    assert out[1]["error"] is None and (out[1]["width"], out[1]["height"]) == (8, 6)
    assert out[2]["error"] is None and (out[2]["width"], out[2]["height"]) == (5, 5)
    assert out[3]["error"] is None and (out[3]["width"], out[3]["height"]) == (7, 3)
    assert len(out[1]["features"]) == mm.FEATURE_DIM
    # decode is deterministic → features reproducible
    again = {r["media_id"]: r for r in mm.extract_features(media).collect()}
    assert again[1]["features"] == out[1]["features"]
    # corrupt bytes: contained error row, not a batch failure
    assert out[4]["error"] is not None and "JPEG" in out[4]["error"]
    assert out[4]["features"] is None
    # real baseline JPEG decodes in-kernel
    assert out[5]["error"] is None
    assert (out[5]["width"], out[5]["height"]) == (6, 4)


def test_imagecodec_roundtrips_and_foreign_fixture():
    import base64
    import random

    import pytest

    from extractor.imagecodec import (
        bmp_decode,
        bmp_encode,
        png_decode,
        png_encode,
        sniff_image,
    )

    rnd = random.Random(5)
    for ct, ch in ((0, 1), (2, 3), (4, 2), (6, 4)):
        for w, h in ((1, 1), (3, 2), (17, 9)):
            px = bytes(rnd.randrange(256) for _ in range(w * h * ch))
            for ft in (0, 2, 4):  # None / Up / Paeth row filters
                blob = png_encode(w, h, px, color_type=ct, filter_type=ft)
                assert sniff_image(blob) == "png"
                assert png_decode(blob) == (w, h, ch, px)
    # foreign writer: the widely-published 1x1 semi-transparent-red
    # data-URI PNG — proves we read PNGs we didn't write
    foreign = base64.b64decode(
        "iVBORw0KGgoAAAANSUhEUgAAAAEAAAABCAYAAAAfFcSJAAAADUlEQVR42mP8"
        "z8BQDwAEhQGAhKmMIQAAAABJRU5ErkJggg=="
    )
    assert png_decode(foreign) == (1, 1, 4, b"\xff\x00\x00\x7f")
    # BMP roundtrips across row-padding widths, incl. top-down storage
    for w, h in ((1, 1), (2, 2), (5, 4), (33, 7)):
        px = bytes(rnd.randrange(256) for _ in range(w * h * 3))
        blob = bmp_encode(w, h, px)
        assert sniff_image(blob) == "bmp"
        assert bmp_decode(blob) == (w, h, 3, px)
    # corrupt bytes are ValueError (contained), unsupported shapes are
    # NotImplementedError (honest scope) — never a silent wrong answer
    good = png_encode(4, 4, bytes(48), 2)
    bad_crc = bytearray(good)
    bad_crc[-5] ^= 0xFF  # flip a bit inside IEND CRC
    with pytest.raises(ValueError, match="CRC"):
        png_decode(bytes(bad_crc))
    with pytest.raises(ValueError):
        png_decode(good[:20])
    with pytest.raises(ValueError):
        bmp_decode(b"BM short")
    # spec-illegal depth/color-type combo (depth 3 doesn't exist):
    # rejected as corrupt, with the CRC re-sealed so only the depth trips
    deep = bytearray(good)
    depth_at = deep.find(b"IHDR") + 4 + 8
    deep[depth_at] = 3
    import struct
    import zlib as _z

    body = bytes(deep[deep.find(b"IHDR") + 4 : deep.find(b"IHDR") + 17])
    crc = struct.pack(">I", _z.crc32(b"IHDR" + body) & 0xFFFFFFFF)
    deep[deep.find(b"IHDR") + 17 : deep.find(b"IHDR") + 21] = crc
    with pytest.raises(ValueError, match="illegal depth"):
        png_decode(bytes(deep))


def test_png_palette_expansion():
    import struct
    import zlib

    from extractor.imagecodec import PNG_SIG, png_decode

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    # 2x2 paletted image: indices 0..3 → distinct RGB entries
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)
    plte = bytes((255, 0, 0, 0, 255, 0, 0, 0, 255, 9, 9, 9))
    raw = b"\x00\x00\x01\x00\x02\x03"  # two rows, filter 0
    blob = (
        PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"PLTE", plte)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    assert png_decode(blob) == (
        2, 2, 3,
        bytes((255, 0, 0, 0, 255, 0, 0, 0, 255, 9, 9, 9)),
    )


def test_gif_codec_roundtrips_and_foreign_fixture():
    import base64
    import random

    import pytest

    from extractor.imagecodec import gif_decode, gif_encode, sniff_image

    rnd = random.Random(3)
    for w, h, nc in ((1, 1, 2), (3, 2, 4), (16, 16, 256), (40, 23, 17)):
        pal = bytes(rnd.randrange(256) for _ in range(nc * 3))
        idx = bytes(rnd.randrange(nc) for _ in range(w * h))
        blob = gif_encode(w, h, idx, pal)
        assert sniff_image(blob) == "gif"
        assert blob == gif_encode(w, h, idx, pal)  # deterministic
        want = b"".join(pal[3 * i : 3 * i + 3] for i in idx)
        assert gif_decode(blob) == (w, h, 3, want)
    # foreign writer: the famous 1x1 transparent-GIF data URI
    g = base64.b64decode(
        "R0lGODlhAQABAIAAAAAAAP///yH5BAEAAAAALAAAAAABAAEAAAIBRAA7"
    )
    assert gif_decode(g) == (1, 1, 3, b"\x00\x00\x00")
    # interlaced frame: build one by reordering rows into the 4 passes
    w, h, nc = 8, 11, 5
    pal = bytes(range(nc * 3))
    idx = bytes(rnd.randrange(nc) for _ in range(w * h))
    plain = gif_encode(w, h, idx, pal)
    rows = [idx[y * w : (y + 1) * w] for y in range(h)]
    passes = b"".join(
        rows[y]
        for start, step in ((0, 8), (4, 8), (2, 4), (1, 2))
        for y in range(start, h, step)
    )
    inter = gif_encode(w, h, passes, pal)
    # flip the interlace flag in the image descriptor (after 0x2C + 8)
    at = inter.index(b"\x2c")
    inter = inter[: at + 9] + bytes([inter[at + 9] | 0x40]) + inter[at + 10 :]
    assert gif_decode(inter) == gif_decode(plain)
    # containment
    with pytest.raises(ValueError):
        gif_decode(b"GIF89a\x00\x00")
    with pytest.raises(ValueError):
        gif_decode(gif_encode(2, 2, bytes(4), bytes(6))[:-6])


def test_gif_payload_decodes_in_kernel(spark):
    from extractor.imagecodec import gif_encode

    pal = bytes((255, 0, 0, 0, 255, 0, 0, 0, 255))
    idx = bytes((0, 1, 2, 1, 0, 2) * 4)
    rows = [
        (10, "image", bytearray(gif_encode(6, 4, idx, pal)),
         {"width": 6, "height": 4, "format": "gif", "n_bytes": 0}),
    ]
    media = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
    out = mm.extract_features(media).collect()[0]
    assert out["error"] is None
    assert (out["width"], out["height"]) == (6, 4)
    assert len(out["features"]) == mm.FEATURE_DIM


def test_png_full_spec_decode():
    """Full still-image PNG spec: bit depths 1/4/16, sub-8 palette,
    Adam7 interlace (incl. odd dims with empty passes) — hand-built
    spec-conformant byte streams, decoded exactly."""
    import random
    import struct
    import zlib

    from extractor.imagecodec import _ADAM7, PNG_SIG, png_decode

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    def blob(w, h, depth, ct, raw, extra=b"", interlace=0):
        ihdr = struct.pack(">IIBBBBB", w, h, depth, ct, 0, 0, interlace)
        return (
            PNG_SIG + chunk(b"IHDR", ihdr) + extra
            + chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b"")
        )

    rnd = random.Random(9)
    # depth 1 grayscale, width 10 (crosses a byte boundary per row)
    w, h = 10, 3
    bits = [rnd.randrange(2) for _ in range(w * h)]
    raw = bytearray()
    for y in range(h):
        raw.append(0)
        row = bits[y * w : (y + 1) * w]
        for b0 in range(0, w, 8):
            byte = 0
            for k, bit in enumerate(row[b0 : b0 + 8]):
                byte |= bit << (7 - k)
            raw.append(byte)
    assert png_decode(blob(w, h, 1, 0, raw)) == (
        w, h, 1, bytes(b * 255 for b in bits)
    )
    # depth-4 palette
    w, h = 5, 2
    idx = [rnd.randrange(16) for _ in range(w * h)]
    pal = bytes(rnd.randrange(256) for _ in range(48))
    raw = bytearray()
    for y in range(h):
        raw.append(0)
        row = idx[y * w : (y + 1) * w] + [0]
        for s0 in range(0, w, 2):
            raw.append((row[s0] << 4) | row[s0 + 1])
    assert png_decode(blob(w, h, 4, 3, raw, extra=chunk(b"PLTE", pal))) == (
        w, h, 3, b"".join(pal[3 * i : 3 * i + 3] for i in idx)
    )
    # depth 16 grayscale: high byte
    w, h = 3, 2
    samples = [rnd.randrange(65536) for _ in range(w * h)]
    raw = bytearray()
    for y in range(h):
        raw.append(0)
        for s in samples[y * w : (y + 1) * w]:
            raw += struct.pack(">H", s)
    assert png_decode(blob(w, h, 16, 0, raw)) == (
        w, h, 1, bytes(s >> 8 for s in samples)
    )
    # Adam7 RGB, square then odd dims (some passes empty)
    for w, h, ch, ct in ((8, 8, 3, 2), (5, 3, 1, 0)):
        full = [
            [bytes(rnd.randrange(256) for _ in range(ch)) for _ in range(w)]
            for _ in range(h)
        ]
        raw = bytearray()
        for x0, xs, y0, ys in _ADAM7:
            pw = (w - x0 + xs - 1) // xs
            ph = (h - y0 + ys - 1) // ys
            if pw <= 0 or ph <= 0:
                continue
            for py in range(ph):
                raw.append(0)
                for px_ in range(pw):
                    raw += full[y0 + py * ys][x0 + px_ * xs]
        assert png_decode(blob(w, h, 8, ct, raw, interlace=1)) == (
            w, h, ch,
            b"".join(full[y][x] for y in range(h) for x in range(w)),
        )


def test_tiff_codec_roundtrips_and_shapes():
    import random

    import pytest

    from extractor.imagecodec import sniff_image, tiff_decode, tiff_encode

    rnd = random.Random(21)
    for ch in (1, 3):
        for w, h in ((1, 1), (5, 4), (16, 11)):
            px = bytes(rnd.randrange(256) for _ in range(w * h * ch))
            for comp in ("none", "packbits", "lzw"):
                for bo in ("II", "MM"):  # both byte orders
                    for rps in (None, 3):  # single and multi strip
                        blob = tiff_encode(w, h, px, ch, comp, bo, rps)
                        assert sniff_image(blob) == "tiff"
                        assert blob == tiff_encode(w, h, px, ch, comp, bo, rps)
                        assert tiff_decode(blob) == (w, h, ch, px), (
                            ch, w, h, comp, bo, rps,
                        )
    # containment + honest scope
    with pytest.raises(ValueError):
        tiff_decode(b"II*\x00\x08\x00\x00\x00")  # truncated IFD
    with pytest.raises(ValueError):
        tiff_decode(b"not tiff")
    good = tiff_encode(4, 4, bytes(16), 1, "none")
    with pytest.raises(NotImplementedError, match="compression"):
        # patch the Compression SHORT (tag 259) to JPEG (7)
        at = good.index(b"\x03\x01")  # tag 259 LE within the IFD
        bad = good[: at + 8] + b"\x07\x00" + good[at + 10 :]
        tiff_decode(bad)


def test_tiff_palette_and_whiteiszero():
    import struct

    from extractor.imagecodec import tiff_decode, tiff_encode

    # WhiteIsZero: flip photometric tag (262) on a grayscale image
    px = bytes((0, 128, 255, 7))
    blob = tiff_encode(2, 2, px, 1, "none")
    at = blob.index(b"\x06\x01")  # tag 262 LE
    wiz = blob[: at + 8] + b"\x00\x00" + blob[at + 10 :]
    assert tiff_decode(wiz) == (2, 2, 1, bytes(255 - v for v in px))
    # palette: photometric 3 + a ColorMap of 3x256 SHORTs appended
    idx = bytes((0, 1, 2, 3))
    base = tiff_encode(2, 2, idx, 1, "none")
    # rebuild with an extra ColorMap tag is fiddly via the writer; decode
    # path is exercised by hand-building the IFD in the foreign test below
    cmap_vals = [(i * 257) for i in range(256)]  # identity map hi-byte=i
    fmt = "<"
    # hand-build: header | IFD(8 entries) | colormap | pixels
    entries = []
    def ent(tag, typ, vals, data_at=None):
        code = {3: "H", 4: "I"}[typ]
        size = {3: 2, 4: 4}[typ] * len(vals)
        if size <= 4:
            val = struct.pack(fmt + code * len(vals), *vals).ljust(4, b"\x00")
        else:
            val = struct.pack(fmt + "I", data_at)
        return struct.pack(fmt + "HHI", tag, typ, len(vals)) + val
    n_entries = 9
    ifd_at = 8
    cmap_at = ifd_at + 2 + 12 * n_entries + 4
    px_at = cmap_at + 2 * 3 * 256
    ifd = b"".join([
        ent(256, 4, [2]), ent(257, 4, [2]), ent(258, 3, [8]),
        ent(259, 3, [1]), ent(262, 3, [3]), ent(273, 4, [px_at]),
        ent(277, 3, [1]), ent(279, 4, [4]),
        ent(320, 3, cmap_vals * 3, data_at=cmap_at),
    ])
    blob = (
        struct.pack(fmt + "2sHI", b"II", 42, ifd_at)
        + struct.pack(fmt + "H", n_entries) + ifd + struct.pack(fmt + "I", 0)
        + struct.pack(fmt + "H" * 768, *(cmap_vals * 3))
        + idx
    )
    w, h, ch, out = tiff_decode(blob)
    assert (w, h, ch) == (2, 2, 3)
    assert out == bytes(b for i in idx for b in (i, i, i))
