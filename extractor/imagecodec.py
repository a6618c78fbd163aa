"""Real image codecs, stdlib only: PNG, GIF, TIFF, and BMP (encode +
decode).

Closes the lossless image-decode boundary
(``extractor/ops/multimodal.py``): PNG is zlib (stdlib) over per-row
filters — the identical filter algorithm our PDF ``/Predictor`` codec
already implements (``extractor.pdf``, PNG spec §6); GIF is palette +
own LSB-first LZW (distinct from the MSB-first PDF/TIFF LZW in
``extractor/pdf.py``); TIFF reuses the PDF machinery directly (TIFF LZW
*is* ``/LZWDecode``, Predictor 2 is ``tiff_predict_decode``, PackBits is
RunLength minus the EOD byte); BI_RGB BMP is plain pixel rows with
4-byte padding.  Baseline-sequential JPEG lives in its own module
(``extractor/jpegcodec.py`` — DCT + Huffman, stdlib + numpy); only
WebP/AVIF and arithmetic-coded JPEG stay out of scope and keep raising
``NotImplementedError`` at the call site.

Reference parity: the reference treats images as opaque files it copies
and inventories (`app/core/html_processor.py:406-416`); decoding pixels
is OUR extension (SURVEY §2 multimodal family).  Everything here is a
pure bytes→bytes function, so on Spark it rides inside the same Arrow
``mapInPandas`` kernels as the fake-payload path — no new topology.

Scope (honest): PNG full still-image spec — bit depths 1/2/4/8/16, all
five color types, Adam7 interlace, CRCs verified, ancillary chunks
skipped; GIF 87a/89a first frame, global/local color tables, 4-pass
interlace undone; TIFF baseline strips — none/PackBits/LZW (+Predictor
2), gray/RGB/palette/WhiteIsZero, both byte orders, 8-bit samples
(tiles, sub-8-bit, JPEG-in-TIFF raise); BMP: uncompressed 24-bit
BI_RGB, bottom-up or top-down.  Out-of-scope shapes raise
``NotImplementedError``; structural damage raises ``ValueError`` —
callers contain both as error rows (O4 semantics).
"""
from __future__ import annotations

import struct
import zlib

from extractor.pdf import (
    MAX_INFLATE_BYTES,
    inflate,
    png_predict_decode,
    png_predict_encode,
)

PNG_SIG = b"\x89PNG\r\n\x1a\n"

# Largest image a decoder here sizes a pixel buffer for (4096 x 4096): a
# header declares up to 65535 x 65535 (GIF, JPEG) or 2^32 x 2^32 (PNG,
# TIFF) in a few bytes, so dimensions are checked before any allocation.
MAX_IMAGE_PIXELS = 1 << 24


def check_pixels(width: int, height: int) -> None:
    """``ValueError`` for a declared size past ``MAX_IMAGE_PIXELS``."""
    if width * height > MAX_IMAGE_PIXELS:
        raise ValueError(
            "image %dx%d exceeds %d pixels" % (width, height, MAX_IMAGE_PIXELS)
        )


def _contained(fn):
    """Map low-level parse crashes (struct/zlib/index arithmetic on
    garbage bytes) to ``ValueError`` so decoders keep the documented O4
    contract: structural damage raises ``ValueError``, out-of-scope
    shapes ``NotImplementedError``, nothing else escapes."""
    import functools

    @functools.wraps(fn)
    def wrapped(payload, *args, **kwargs):
        try:
            return fn(payload, *args, **kwargs)
        except (ValueError, NotImplementedError):
            raise
        except (struct.error, zlib.error, IndexError, OverflowError,
                EOFError, KeyError) as exc:
            raise ValueError(
                "%s: corrupt payload: %s" % (fn.__name__, exc)
            ) from exc

    return wrapped

# channels per PNG color type at bit depth 8
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _chunk(tag: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def png_encode(
    width: int,
    height: int,
    pixels: bytes,
    color_type: int = 2,
    filter_type: int = 0,
) -> bytes:
    """Write a real, spec-valid PNG (8-bit, non-interlaced).  *pixels* is
    ``height`` rows × ``width`` px × channels bytes, top-down.  Row
    filtering uses one fixed ``filter_type`` (0=None default) so output
    is byte-deterministic (fixed zlib level 6)."""
    ch = _PNG_CHANNELS.get(color_type)
    if ch is None:
        raise ValueError("bad PNG color type %d" % color_type)
    if color_type == 3:
        raise NotImplementedError("png_encode: palette writing not needed")
    if len(pixels) != width * height * ch:
        raise ValueError(
            "pixel buffer is %d bytes, want %d (%dx%dx%d)"
            % (len(pixels), width * height * ch, width, height, ch)
        )
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    # png_predict_encode emits exactly the PNG row framing: one filter
    # tag byte then the filtered row (pdf.py shares the algorithm)
    raw = png_predict_encode(pixels, width, colors=ch, filter_type=filter_type)
    return (
        PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw, 6))
        + _chunk(b"IEND", b"")
    )


def _png_samples_to_bytes(
    rows: bytes, width: int, height: int, ch: int, depth: int
) -> bytes:
    """Expand bit-packed scanlines to one byte per sample, scaled to the
    8-bit range (spec sample scaling: replicate bits for <8; take the
    high byte for 16 — the standard lossless-view downsample)."""
    if depth == 8:
        return rows
    rowbytes = (width * ch * depth + 7) // 8
    out = bytearray(width * height * ch)
    di = 0
    if depth == 16:
        for y in range(height):
            base = y * rowbytes
            for s in range(width * ch):
                out[di] = rows[base + 2 * s]  # high byte
                di += 1
        return bytes(out)
    per_byte = 8 // depth
    maxval = (1 << depth) - 1
    for y in range(height):
        base = y * rowbytes
        for s in range(width * ch):
            byte = rows[base + s // per_byte]
            shift = 8 - depth * (s % per_byte + 1)
            v = (byte >> shift) & maxval
            out[di] = (v * 255) // maxval
            di += 1
    return bytes(out)


# Adam7: (x_start, x_step, y_start, y_step) per pass (PNG spec §8)
_ADAM7 = (
    (0, 8, 0, 8), (4, 8, 0, 8), (0, 4, 4, 8), (2, 4, 0, 4),
    (0, 2, 2, 4), (1, 2, 0, 2), (0, 1, 1, 2),
)


@_contained
def png_decode(payload: bytes) -> tuple[int, int, int, bytes]:
    """Decode a PNG to ``(width, height, channels, pixels)`` — top-down
    8-bit samples, palette rows expanded to RGB (channels=3).  Full
    still-image spec: bit depths 1/2/4/8/16 (sub-8 bit-replicated to
    8-bit, 16-bit high-byte), all five color types, Adam7 interlace,
    CRCs verified, ancillary chunks skipped.  Structural damage raises
    ``ValueError`` (callers contain it as an error row)."""
    payload = bytes(payload)
    if not payload.startswith(PNG_SIG):
        raise ValueError("not a PNG payload")
    pos = len(PNG_SIG)
    n = len(payload)
    width = height = color_type = depth = interlace = None
    idat = bytearray()
    palette = b""
    while pos + 8 <= n:
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        tag = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + length]
        if len(body) != length:
            raise ValueError("truncated PNG chunk %r" % tag)
        (crc,) = struct.unpack(
            ">I", payload[pos + 8 + length : pos + 12 + length]
        )
        if zlib.crc32(tag + body) & 0xFFFFFFFF != crc:
            raise ValueError("PNG chunk %r CRC mismatch" % tag)
        pos += 12 + length
        if tag == b"IHDR":
            width, height, depth, color_type, comp, filt, interlace = (
                struct.unpack(">IIBBBBB", body)
            )
            legal = {0: (1, 2, 4, 8, 16), 2: (8, 16), 3: (1, 2, 4, 8),
                     4: (8, 16), 6: (8, 16)}
            if color_type not in legal:
                raise ValueError("bad PNG color type %d" % color_type)
            if depth not in legal[color_type]:
                raise ValueError(
                    "illegal depth %d for color type %d" % (depth, color_type)
                )
            if comp or filt or interlace not in (0, 1):
                raise ValueError("bad IHDR compression/filter/interlace")
            check_pixels(width, height)
        elif tag == b"PLTE":
            palette = body
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
        # ancillary chunks (tEXt, pHYs, gAMA, ...) are skipped
    if width is None:
        raise ValueError("PNG missing IHDR")
    if not idat:
        raise ValueError("PNG missing IDAT")
    ch = _PNG_CHANNELS[color_type]
    try:
        raw = inflate(bytes(idat))
    except zlib.error as exc:
        raise ValueError("corrupt PNG IDAT: %s" % exc) from exc
    if interlace:
        # Adam7: seven independently-filtered sub-images, reassembled
        pixels = bytearray(width * height * ch)
        at = 0
        for x0, xs, y0, ys in _ADAM7:
            pw = (width - x0 + xs - 1) // xs
            ph = (height - y0 + ys - 1) // ys
            if pw <= 0 or ph <= 0:
                continue
            sub_len = ph * (1 + (pw * ch * depth + 7) // 8)
            sub = raw[at : at + sub_len]
            if len(sub) != sub_len:
                raise ValueError("truncated Adam7 pass data")
            at += sub_len
            rows = png_predict_decode(sub, pw, ch, depth)
            spx = _png_samples_to_bytes(rows, pw, ph, ch, depth)
            for py in range(ph):
                for px_ in range(pw):
                    src = (py * pw + px_) * ch
                    dst = ((y0 + py * ys) * width + (x0 + px_ * xs)) * ch
                    pixels[dst : dst + ch] = spx[src : src + ch]
        pixels = bytes(pixels)
    else:
        expected = height * (1 + (width * ch * depth + 7) // 8)
        if len(raw) != expected:
            raise ValueError(
                "PNG scanline data is %d bytes, want %d" % (len(raw), expected)
            )
        rows = png_predict_decode(raw, width, ch, depth)
        pixels = _png_samples_to_bytes(rows, width, height, ch, depth)
    if color_type == 3:
        if not palette or len(palette) % 3:
            raise ValueError("paletted PNG missing/odd PLTE")
        lut = [palette[i : i + 3] for i in range(0, len(palette), 3)]
        # sub-8 palette indices were bit-replicated by the sample scaler;
        # undo that scaling to recover the raw index
        maxval = (1 << depth) - 1
        try:
            pixels = b"".join(
                lut[(v * maxval) // 255] for v in pixels
            )
        except IndexError as exc:
            raise ValueError("palette index out of range") from exc
        ch = 3
    return width, height, ch, pixels


def bmp_encode(width: int, height: int, pixels: bytes) -> bytes:
    """Write an uncompressed 24-bit BI_RGB BMP.  *pixels* is top-down RGB;
    the file stores the spec's bottom-up BGR rows with 4-byte padding."""
    import numpy as np

    if len(pixels) != width * height * 3:
        raise ValueError("pixel buffer size mismatch")
    pad = (-width * 3) % 4
    arr = np.frombuffer(pixels, dtype=np.uint8).reshape(height, width, 3)
    bgr = arr[::-1, :, ::-1]  # bottom-up rows, RGB→BGR
    padded = np.zeros((height, width * 3 + pad), dtype=np.uint8)
    padded[:, : width * 3] = bgr.reshape(height, width * 3)
    data = padded.tobytes()
    off = 14 + 40
    header = struct.pack("<2sIHHI", b"BM", off + len(data), 0, 0, off)
    dib = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(data), 2835, 2835, 0, 0
    )
    return header + dib + data


@_contained
def bmp_decode(payload: bytes) -> tuple[int, int, int, bytes]:
    """Decode an uncompressed 24-bit BI_RGB BMP to ``(width, height, 3,
    top-down RGB pixels)``.  Negative height (top-down storage) handled;
    other bit depths / compressions raise ``NotImplementedError``."""
    payload = bytes(payload)
    if not payload.startswith(b"BM") or len(payload) < 54:
        raise ValueError("not a BMP payload")
    off = struct.unpack_from("<I", payload, 10)[0]
    dib_size = struct.unpack_from("<I", payload, 14)[0]
    if dib_size < 40:
        raise NotImplementedError("bmp_decode: BITMAPCOREHEADER")
    width, height = struct.unpack_from("<ii", payload, 18)
    planes, bpp = struct.unpack_from("<HH", payload, 26)
    compression = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or compression != 0:
        raise NotImplementedError(
            "bmp_decode: only uncompressed 24-bit BI_RGB (got %d bpp, "
            "compression %d)" % (bpp, compression)
        )
    top_down = height < 0
    height = abs(height)
    if width <= 0 or height <= 0 or planes != 1:
        raise ValueError("bad BMP dimensions")
    import numpy as np

    stride = (width * 3 + 3) & ~3
    if off + stride * height > len(payload):
        raise ValueError("truncated BMP pixel data")
    rows = np.frombuffer(
        payload, dtype=np.uint8, count=stride * height, offset=off
    ).reshape(height, stride)[:, : width * 3]
    if not top_down:
        rows = rows[::-1]
    rgb = rows.reshape(height, width, 3)[:, :, ::-1]  # BGR→RGB
    return width, height, 3, np.ascontiguousarray(rgb).tobytes()


def sniff_image(payload: bytes) -> str | None:
    """Byte-sniff the image container: 'png' | 'bmp' | 'jpeg' | 'gif' |
    'tiff' | 'webp' | None (unrecognized)."""
    if payload is None:
        return None
    head = bytes(payload[:12])
    if head.startswith(PNG_SIG):
        return "png"
    if head[:4] == b"RIFF" and head[8:12] == b"WEBP":
        return "webp"
    if head.startswith(b"BM"):
        # 'BM' alone is two ASCII letters — plain text can start with it
        # ("BMW report..."), and since the router checks image magics
        # before text decode a false positive turns a working text
        # payload into an error row.  Require a plausible DIB header
        # size at offset 14 before claiming the format.
        if len(payload) >= 54 and int.from_bytes(
            bytes(payload[14:18]), "little"
        ) in (12, 40, 52, 56, 64, 108, 124):
            return "bmp"
        return None
    if head.startswith(b"\xff\xd8\xff"):
        return "jpeg"
    if head.startswith((b"GIF87a", b"GIF89a")):
        return "gif"
    if head.startswith((b"II*\x00", b"MM\x00*")):
        return "tiff"
    return None


# --- GIF (LZW, lossless) ----------------------------------------------------
#
# GIF87a/89a is palette + LZW — lossless and fully stdlib-decodable (the
# LZW here is the LSB-first GIF convention, distinct from the MSB-first
# PDF/TIFF codec in extractor/pdf.py).  First frame decoded; animation
# frames beyond the first are out of scope (documented).


def _gif_lzw_decode(data: bytes, min_code_size: int) -> bytes:
    """Decode a GIF LZW stream (already de-sub-blocked): LSB-first bit
    packing, initial width min_code_size+1, Clear=2^mcs, EOI=Clear+1,
    width grows when the table fills 2^width, max code 4095.  Output is
    capped at ``MAX_INFLATE_BYTES``."""
    clear = 1 << min_code_size
    eoi = clear + 1
    width = min_code_size + 1
    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    out = bytearray()
    acc = nbits = 0
    prev = None
    for byte in data:
        acc |= byte << nbits
        nbits += 8
        while nbits >= width:
            code = acc & ((1 << width) - 1)
            acc >>= width
            nbits -= width
            if code == clear:
                table = [bytes([i]) for i in range(clear)] + [b"", b""]
                width = min_code_size + 1
                prev = None
                continue
            if code == eoi:
                return bytes(out)
            if prev is None:
                if code >= len(table):
                    raise ValueError("corrupt GIF LZW: bad first code")
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                if len(table) < 4096:
                    table.append(prev + entry[:1])
            elif code == len(table) and len(table) < 4096:  # KwKwK
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise ValueError("corrupt GIF LZW: code out of range")
            out += entry
            if len(out) > MAX_INFLATE_BYTES:
                raise ValueError(
                    "GIF LZW stream exceeds %d bytes" % MAX_INFLATE_BYTES
                )
            prev = entry
            if len(table) == (1 << width) and width < 12:
                width += 1
    return bytes(out)  # missing EOI tolerated (seen in the wild)


def _gif_lzw_encode_plain(indices: bytes, min_code_size: int) -> bytes:
    """Deterministic 'uncompressed-style' GIF LZW encoder: every pixel is
    emitted as its own literal code at fixed width min_code_size+1, with a
    Clear code re-issued before the decoder's table would force a width
    bump — the classic table-suppression technique (larger output, valid
    stream, trivial to verify)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    width = min_code_size + 1
    out = bytearray()
    acc = nbits = 0

    def emit(code: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    # decoder adds one table entry per data code after the first; reset
    # before its table reaches 2^width so width never grows
    budget = (1 << width) - (clear + 2) - 1
    emit(clear)
    since_clear = 0
    for px in indices:
        if px >= clear:
            raise ValueError("pixel index %d exceeds palette" % px)
        if since_clear >= budget:
            emit(clear)
            since_clear = 0
        emit(px)
        since_clear += 1
    emit(eoi)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def gif_encode(
    width: int, height: int, indices: bytes, palette: bytes
) -> bytes:
    """Write a real single-frame GIF89a: *indices* are width×height
    palette indices (top-down, non-interlaced), *palette* is RGB triples
    (length a multiple of 3, ≤256 entries).  Byte-deterministic."""
    n_colors = len(palette) // 3
    if len(palette) % 3 or not 0 < n_colors <= 256:
        raise ValueError("palette must be 1..256 RGB triples")
    if len(indices) != width * height:
        raise ValueError("index buffer size mismatch")
    depth = max(1, (max(n_colors - 1, 1)).bit_length())  # GCT size exponent
    gct_entries = 1 << depth
    gct = palette + b"\x00" * ((gct_entries - n_colors) * 3)
    mcs = max(2, depth)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", width, height)
    out += bytes((0x80 | ((depth - 1) & 7), 0, 0))  # GCT flag + size
    out += gct
    out += b"\x2c" + struct.pack("<HHHH", 0, 0, width, height) + b"\x00"
    out.append(mcs)
    stream = _gif_lzw_encode_plain(indices, mcs)
    for i in range(0, len(stream), 255):
        block = stream[i : i + 255]
        out.append(len(block))
        out += block
    out += b"\x00\x3b"  # block terminator + trailer
    return bytes(out)


@_contained
def gif_decode(payload: bytes) -> tuple[int, int, int, bytes]:
    """Decode the FIRST frame of a GIF87a/89a to ``(width, height, 3,
    top-down RGB pixels)`` — own LSB-first LZW, local/global color
    tables, Adam-style 4-pass interlace undone.  Multi-frame animations
    decode to frame 1 (documented scope); structural damage raises
    ``ValueError``."""
    payload = bytes(payload)
    if not payload.startswith((b"GIF87a", b"GIF89a")) or len(payload) < 13:
        raise ValueError("not a GIF payload")
    packed = payload[10]
    pos = 13
    gct = b""
    if packed & 0x80:
        n = 3 * (1 << ((packed & 7) + 1))
        gct = payload[pos : pos + n]
        if len(gct) != n:
            raise ValueError("truncated GIF global color table")
        pos += n
    while pos < len(payload):
        block = payload[pos]
        pos += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension: label + sub-blocks
            pos += 1
            while pos < len(payload) and payload[pos]:
                pos += 1 + payload[pos]
            pos += 1
            continue
        if block != 0x2C:
            raise ValueError("bad GIF block 0x%02x" % block)
        if pos + 9 > len(payload):
            raise ValueError("truncated GIF image descriptor")
        _l, _t, fw, fh = struct.unpack_from("<HHHH", payload, pos)
        check_pixels(fw, fh)
        ipacked = payload[pos + 8]
        pos += 9
        lct = gct
        if ipacked & 0x80:
            n = 3 * (1 << ((ipacked & 7) + 1))
            lct = payload[pos : pos + n]
            if len(lct) != n:
                raise ValueError("truncated GIF local color table")
            pos += n
        if not lct:
            raise ValueError("GIF frame has no color table")
        if pos >= len(payload):
            raise ValueError("truncated GIF data")
        mcs = payload[pos]
        pos += 1
        if not 2 <= mcs <= 11:
            raise ValueError("bad GIF LZW min code size %d" % mcs)
        stream = bytearray()
        while pos < len(payload) and payload[pos]:
            ln = payload[pos]
            stream += payload[pos + 1 : pos + 1 + ln]
            pos += 1 + ln
        pos += 1
        indices = _gif_lzw_decode(bytes(stream), mcs)
        if len(indices) < fw * fh:
            raise ValueError(
                "GIF frame decodes to %d px, want %d" % (len(indices), fw * fh)
            )
        indices = indices[: fw * fh]
        if ipacked & 0x40:  # interlaced: undo the 4 passes (GIF89a §20)
            rows = [b""] * fh
            src = 0
            for start, step in ((0, 8), (4, 8), (2, 4), (1, 2)):
                for y in range(start, fh, step):
                    rows[y] = indices[src : src + fw]
                    src += fw
            indices = b"".join(rows)
        lut = [lct[i : i + 3] for i in range(0, len(lct), 3)]
        try:
            pixels = b"".join(lut[i] for i in indices)
        except IndexError as exc:
            raise ValueError("GIF index out of color-table range") from exc
        return fw, fh, 3, pixels
    raise ValueError("GIF contains no image frame")


# --- TIFF (lossless subset) -------------------------------------------------
#
# TIFF 6.0 baseline is tag-directory plumbing over strips whose codecs we
# ALREADY ship for PDF: TIFF LZW is byte-identical to /LZWDecode
# (extractor.pdf.lzw_decode, MSB-first, EarlyChange) and Predictor 2 is
# extractor.pdf.tiff_predict_decode.  PackBits differs from PDF RunLength
# only in treating 0x80 as a no-op instead of EOD.


def _packbits_decode(data: bytes, expected: int) -> bytes:
    """TIFF PackBits (spec §9): n<128 → n+1 literals; n>128 → next byte
    repeats 257-n times; n==128 → no-op.  Stops at *expected* bytes."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n and len(out) < expected:
        ln = data[i]
        i += 1
        if ln == 128:
            continue
        if ln < 128:
            chunk = data[i : i + ln + 1]
            if len(chunk) != ln + 1:
                raise ValueError("corrupt PackBits strip: short literal")
            out += chunk
            i += ln + 1
        else:
            if i >= n:
                raise ValueError("corrupt PackBits strip: dangling repeat")
            out += bytes([data[i]]) * (257 - ln)
            i += 1
    return bytes(out[:expected])


def _tiff_read_ifd(payload: bytes, fmt: str, at: int) -> dict:
    (count,) = struct.unpack_from(fmt + "H", payload, at)
    entries = {}
    type_size = {1: 1, 2: 1, 3: 2, 4: 4}
    type_code = {1: "B", 3: "H", 4: "I"}
    for k in range(count):
        tag, typ, n = struct.unpack_from(fmt + "HHI", payload, at + 2 + 12 * k)
        if typ not in type_size:
            continue  # rationals etc. — not needed for the pixel path
        total = type_size[typ] * n
        if total <= 4:
            off = at + 2 + 12 * k + 8
        else:
            (off,) = struct.unpack_from(fmt + "I", payload, at + 2 + 12 * k + 8)
        if typ == 2:
            entries[tag] = payload[off : off + n]
        else:
            entries[tag] = list(
                struct.unpack_from(fmt + type_code[typ] * n, payload, off)
            )
    return entries


@_contained
def tiff_decode(payload: bytes) -> tuple[int, int, int, bytes]:
    """Decode a baseline TIFF (first IFD) to ``(width, height, channels,
    top-down 8-bit pixels)``.  Both byte orders; compressions none /
    PackBits / LZW (+ horizontal Predictor 2) and CCITT fax 2/3/4 (MH /
    T.4 G3 / T.6 G4, own codec ``extractor/ccittcodec.py``, bilevel
    expanded to 8-bit gray); photometric WhiteIsZero / BlackIsZero /
    RGB / palette (ColorMap expanded to RGB); 8-bit or 1-bit samples,
    strip-organized.  Tiled and JPEG-in-TIFF raise
    ``NotImplementedError``; structural damage ``ValueError``."""
    from extractor.pdf import lzw_decode, tiff_predict_decode

    payload = bytes(payload)
    if payload[:4] == b"II*\x00":
        fmt = "<"
    elif payload[:4] == b"MM\x00*":
        fmt = ">"
    else:
        raise ValueError("not a TIFF payload")
    (ifd_at,) = struct.unpack_from(fmt + "I", payload, 4)
    try:
        tags = _tiff_read_ifd(payload, fmt, ifd_at)
    except struct.error as exc:
        raise ValueError("truncated TIFF IFD: %s" % exc) from exc
    if 322 in tags or 323 in tags:
        raise NotImplementedError("tiled TIFF")
    width = tags.get(256, [0])[0]
    height = tags.get(257, [0])[0]
    if not width or not height:
        raise ValueError("TIFF missing dimensions")
    check_pixels(width, height)
    spp = tags.get(277, [1])[0]
    bits = tags.get(258, [8] * spp)
    bilevel = list(bits) == [1]
    if not bilevel and any(b != 8 for b in bits):
        raise NotImplementedError("TIFF bits-per-sample %r" % bits)
    comp = tags.get(259, [1])[0]
    photo = tags.get(262, [1])[0]
    predictor = tags.get(317, [1])[0]
    offsets = tags.get(273)
    counts = tags.get(279)
    if not offsets or not counts or len(offsets) != len(counts):
        raise ValueError("TIFF missing strip layout")
    rows_per_strip = tags.get(278, [height])[0] or height
    rowlen = (width + 7) // 8 if bilevel else width * spp
    data = bytearray()
    for si, (off, cnt) in enumerate(zip(offsets, counts)):
        strip = payload[off : off + cnt]
        if len(strip) != cnt:
            raise ValueError("truncated TIFF strip %d" % si)
        nrows = min(rows_per_strip, height - si * rows_per_strip)
        expected = nrows * rowlen
        if comp == 1:
            out = strip[:expected]
            if len(out) != expected:
                raise ValueError("short uncompressed TIFF strip %d" % si)
        elif comp == 5:
            out = lzw_decode(strip)[:expected]
            if len(out) != expected:
                raise ValueError("short LZW TIFF strip %d" % si)
        elif comp == 32773:
            out = _packbits_decode(strip, expected)
            if len(out) != expected:
                raise ValueError("short PackBits TIFF strip %d" % si)
        elif comp in (2, 3, 4):
            # CCITT fax (own T.4/T.6 codec): 2 = MH with byte-aligned
            # rows and no EOLs, 3 = T.4 G3 (T4Options bit 0 selects the
            # mixed 1-D/2-D mode), 4 = T.6 G4 MMR.  Output is packed
            # rows with 1 = black (photometric 0 by fax convention).
            if not bilevel:
                raise ValueError("CCITT TIFF requires 1 bit/sample")
            from extractor.ccittcodec import ccitt_decode

            if comp == 2:
                out = ccitt_decode(strip, width, rows=nrows, k=0,
                                   encoded_byte_align=True)
            elif comp == 3:
                t4 = tags.get(292, [0])[0]
                out = ccitt_decode(strip, width, rows=nrows,
                                   k=1 if t4 & 1 else 0)
            else:
                out = ccitt_decode(strip, width, rows=nrows, k=-1)
        else:
            raise NotImplementedError("TIFF compression %d" % comp)
        if comp in (2, 3, 4):
            pass  # predictor never combines with CCITT coding
        elif predictor == 2:
            out = tiff_predict_decode(out, width, colors=spp,
                                      bpc=1 if bilevel else 8)
        elif predictor != 1:
            raise NotImplementedError("TIFF predictor %d" % predictor)
        data += out
    if bilevel:
        # expand packed rows to 8-bit samples (bit -> 0x00/0xFF); the
        # photometric step below then fixes the black/white polarity
        exp = bytearray(width * height)
        for y in range(height):
            base = y * rowlen
            for x in range(width):
                if (data[base + (x >> 3)] >> (7 - (x & 7))) & 1:
                    exp[y * width + x] = 0xFF
        pixels = bytes(exp)
    else:
        pixels = bytes(data)
    if photo == 3:  # palette: ColorMap is 3 planes of 16-bit values
        cmap = tags.get(320)
        if not cmap or len(cmap) != 3 * 256:
            raise ValueError("paletted TIFF missing 8-bit ColorMap")
        lut = [
            bytes((cmap[i] >> 8, cmap[256 + i] >> 8, cmap[512 + i] >> 8))
            for i in range(256)
        ]
        return width, height, 3, b"".join(lut[v] for v in pixels)
    if photo == 0:  # WhiteIsZero: invert to the BlackIsZero view
        pixels = bytes(255 - v for v in pixels)
    return width, height, spp, pixels


def tiff_encode(
    width: int,
    height: int,
    pixels: bytes,
    channels: int = 1,
    compression: str = "none",
    byte_order: str = "II",
    rows_per_strip: int | None = None,
) -> bytes:
    """Write a baseline TIFF (8-bit gray or RGB; ``compression`` in
    ``none|packbits|lzw|g3mh|g4``; either byte order; optional
    multi-strip layout).  Deterministic — the roundtrip fixture for the
    decoder.  ``g3mh`` (compression 2, MH byte-aligned rows) and ``g4``
    (compression 4, T.6 MMR) are bilevel: ``channels`` must be 1 and
    pixels are thresholded at 128 (< 128 = black), written with
    photometric 0 (WhiteIsZero) per fax convention."""
    from extractor.ccittcodec import ccitt_encode
    from extractor.pdf import lzw_encode, rle_encode

    if len(pixels) != width * height * channels:
        raise ValueError("pixel buffer size mismatch")
    bilevel = compression in ("g3mh", "g4")
    if bilevel and channels != 1:
        raise ValueError("CCITT TIFF is single-channel")
    fmt = "<" if byte_order == "II" else ">"
    rps = rows_per_strip or height
    rowlen = width * channels
    if bilevel:
        packed = bytearray()
        prowlen = (width + 7) // 8
        for y in range(height):
            row = bytearray(prowlen)
            for x in range(width):
                if pixels[y * width + x] < 128:  # black
                    row[x >> 3] |= 0x80 >> (x & 7)
            packed += row
    strips = []
    for y0 in range(0, height, rps):
        nrows = min(y0 + rps, height) - y0
        chunk = pixels[y0 * rowlen : min(y0 + rps, height) * rowlen]
        if compression == "none":
            strips.append(chunk)
        elif compression == "lzw":
            strips.append(lzw_encode(chunk))
        elif compression == "packbits":
            enc = rle_encode(chunk)
            strips.append(enc[:-1])  # PDF EOD byte is PackBits no-op; drop
        elif compression == "g3mh":
            strips.append(ccitt_encode(
                bytes(packed[y0 * prowlen : (y0 + nrows) * prowlen]),
                width, nrows, k=0, encoded_byte_align=True,
                with_eofb=False, with_eols=False,
            ))
        elif compression == "g4":
            strips.append(ccitt_encode(
                bytes(packed[y0 * prowlen : (y0 + nrows) * prowlen]),
                width, nrows, k=-1,
            ))
        else:
            raise ValueError("unknown compression %r" % compression)
    comp_tag = {"none": 1, "lzw": 5, "packbits": 32773,
                "g3mh": 2, "g4": 4}[compression]
    photo = 0 if bilevel else (2 if channels == 3 else 1)
    n_strips = len(strips)

    def entry(tag, typ, vals):
        type_code = {3: "H", 4: "I"}[typ]
        size = {3: 2, 4: 4}[typ] * len(vals)
        packed = struct.pack(fmt + type_code * len(vals), *vals)
        return tag, typ, len(vals), packed, size

    entries = [
        entry(256, 4, [width]),
        entry(257, 4, [height]),
        entry(258, 3, [1] if bilevel else [8] * channels),
        entry(259, 3, [comp_tag]),
        entry(262, 3, [photo]),
        entry(273, 4, [0] * n_strips),  # offsets patched below
        entry(277, 3, [channels]),
        entry(278, 4, [rps]),
        entry(279, 4, [len(s) for s in strips]),
    ]
    header = struct.pack(fmt + "2sHI", byte_order.encode(), 42, 8)
    ifd_size = 2 + 12 * len(entries) + 4
    # layout: header | IFD | overflow values | strips
    overflow_at = 8 + ifd_size
    overflow = bytearray()
    fixed = []
    for tag, typ, n, packed, size in entries:
        if size <= 4:
            fixed.append((tag, typ, n, packed.ljust(4, b"\x00")))
        else:
            fixed.append(
                (tag, typ, n, struct.pack(fmt + "I", overflow_at + len(overflow)))
            )
            overflow += packed
    strips_at = overflow_at + len(overflow)
    strip_offsets = []
    at = strips_at
    for s in strips:
        strip_offsets.append(at)
        at += len(s)
    # patch tag 273 (strip offsets) now that positions are known
    for i, (tag, typ, n, val) in enumerate(fixed):
        if tag == 273:
            packed = struct.pack(fmt + "I" * n_strips, *strip_offsets)
            if len(packed) <= 4:
                fixed[i] = (tag, typ, n, packed.ljust(4, b"\x00"))
            else:
                # 273's overflow slot was reserved with the right size
                off_entry = entries[5]
                slot = struct.unpack(fmt + "I", val)[0]
                overflow[
                    slot - overflow_at : slot - overflow_at + len(packed)
                ] = packed
    out = bytearray(header)
    out += struct.pack(fmt + "H", len(fixed))
    for tag, typ, n, val in fixed:
        out += struct.pack(fmt + "HHI", tag, typ, n) + val
    out += struct.pack(fmt + "I", 0)  # next-IFD pointer
    out += overflow
    for s in strips:
        out += s
    return bytes(out)
