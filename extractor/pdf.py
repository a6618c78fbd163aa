"""S9 PDF export sink — text → deterministic PDF 1.4 bytes, stdlib only.

Reference parity: ``scripts/convert_docx_to_pdf.py:32-66`` exports DOCX to
PDF through Windows Word COM (``doc.SaveAs2(..., FileFormat=17)``) one file
at a time.  That renderer is unavailable off-Windows by construction, so
the Spark-first analogue renders extracted text to PDF directly: a minimal
but valid PDF 1.4 writer (catalog/pages/font objects, per-page content
streams, correct xref byte offsets) producing DETERMINISTIC bytes — the
render becomes an Arrow-batchable column transform instead of a COM
round-trip per document, and the sink is just a binary column write.

Fidelity scope (honest): Helvetica-only, fixed 10 pt type, hard character
wrap — a faithful *pagination and byte-format* model, not a typography
model.  What IS exact and testable: the PDF is structurally valid (xref
offsets, stream lengths), byte-deterministic, and its line/page counts are
pure functions of the input text that a SQL oracle reproduces.

Decoder scope (``pdf_to_text``): the filters and operators
``text_to_pdf_bytes`` writes, at their full spec semantics.  Content
streams uncompressed, ``FlateDecode`` (stdlib zlib) or
``LZWDecode`` (own TIFF-convention codec: MSB-first variable-width
9→12-bit codes, 256=Clear/257=EOD, EarlyChange honored), chains of the
two, and a ``/Predictor`` post-step of 1 (none) or ≥10 (PNG, every row
type, ``/Columns``/``/Colors``/``/BitsPerComponent`` at 1/2/4/8/16-bit
components).  Literal strings with full PDF escape semantics (octal,
``\\n``-family, line continuations, balanced parens), hex strings, and
the ``Tj`` / ``'`` / ``"`` / ``TJ`` show-text operators.  Any other filter
or predictor raises ``NotImplementedError``, and so does a trailer that
declares ``/Encrypt``: the reference only ever writes PDFs (Word COM
export) and never reads one, so the readable set is this engine's own
output, and anything else becomes a contained error row downstream.
Image XObjects (``/Subtype /Image``) are SKIPPED by ``pdf_to_text``: they
carry no text, and the router counts them with the same test
(:func:`image_count`); their pixels are never decoded.
"""
from __future__ import annotations

import math
import re
import zlib

WRAP_COLS = 90        # hard wrap width, characters
LINES_PER_PAGE = 54   # 720pt usable height / 12pt leading, floor
PAGE_W, PAGE_H = 612, 792  # US Letter, points
MARGIN_X, TOP_Y = 72, 720
FONT_SIZE, LEADING = 10, 12

# Output cap of one decoded stream (zlib inflate and LZW): a few KB of
# coded data can declare GBs, so past this the payload is refused before
# the memory is taken.  64 MiB holds any page stream this pure-Python
# decoder gets through in reasonable time.
MAX_INFLATE_BYTES = 64 << 20


def inflate(data: bytes) -> bytes:
    """``zlib.decompress(data)`` with its output bounded by
    ``MAX_INFLATE_BYTES``: ``ValueError`` past the cap; ``zlib.error`` on
    a corrupt or truncated stream, as ``zlib.decompress`` raises."""
    d = zlib.decompressobj()
    out = d.decompress(data, MAX_INFLATE_BYTES + 1)
    if len(out) > MAX_INFLATE_BYTES:
        raise ValueError(
            "inflated stream exceeds %d bytes" % MAX_INFLATE_BYTES
        )
    if not d.eof:
        raise zlib.error(
            "Error -5 while decompressing data: incomplete or truncated stream"
        )
    return out


def wrap_lines(text: str) -> list[str]:
    """Deterministic hard wrap: each source line (split on ``\\n``) becomes
    ``max(1, ceil(len/WRAP_COLS))`` chunks of WRAP_COLS characters.  The
    count (not the chunk content) is SQL-expressible — the oracle's hook."""
    out: list[str] = []
    for line in text.split("\n"):
        if not line:
            out.append("")
            continue
        for i in range(0, len(line), WRAP_COLS):
            out.append(line[i : i + WRAP_COLS])
    return out


def n_lines(text: str) -> int:
    return sum(
        max(1, math.ceil(len(line) / WRAP_COLS)) for line in text.split("\n")
    )


def n_pages(text: str) -> int:
    return max(1, math.ceil(n_lines(text) / LINES_PER_PAGE))


def lzw_encode(data: bytes, early_change: int = 1) -> bytes:
    """PDF/TIFF LZWDecode-compatible encoder (PDF 1.7 §7.4.4, public
    spec): MSB-first bit packing, variable code width 9→12 bits, code 256
    = ClearTable, 257 = EOD.  With ``early_change=1`` (the PDF default)
    the code width bumps one code EARLY — when the next code to be
    assigned is 511/1023/2047 — matching what compliant readers expect.
    Table resets via ClearTable at 4096.  Deterministic."""
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            nbits -= 8
            out.append((acc >> nbits) & 0xFF)

    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code = 258
    width = 9
    emit(256, width)  # leading ClearTable per convention
    w = b""
    emitted_since_clear = 0
    for byte in data:
        c = bytes([byte])
        wc = w + c
        if wc in table:
            w = wc
            continue
        emit(table[w], width)
        emitted_since_clear += 1
        table[wc] = next_code
        next_code += 1
        # width bump: EarlyChange fires when next_code + early hits 2^width
        if next_code + early_change - 1 >= (1 << width) and width < 12:
            width += 1
        if next_code >= 4096 - early_change:
            emit(256, width)
            table = {bytes([i]): i for i in range(256)}
            next_code = 258
            width = 9
            emitted_since_clear = 0
        w = c
    if w:
        emit(table[w], width)
        # The decoder appends a table entry for every data code after the
        # first since a ClearTable; that final append can bump ITS width
        # right before EOD when the table lands exactly on a 2^width
        # boundary.  Mirror the bump so EOD is written at the width the
        # decoder reads it with (PDF 1.7 §7.4.4.2 boundary case).
        if (
            emitted_since_clear > 0
            and width < 12
            and next_code + early_change >= (1 << width)
        ):
            width += 1
    emit(257, width)  # EOD
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def lzw_decode(data: bytes, early_change: int = 1) -> bytes:
    """Inverse of :func:`lzw_encode` — the PDF ``LZWDecode`` filter.
    Accepts any spec-compliant stream (not just our encoder's output):
    handles mid-stream ClearTable, the KwKwK case, and EarlyChange 0/1.
    Output is capped at ``MAX_INFLATE_BYTES`` like :func:`inflate`."""
    out = bytearray()
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    width = 9
    prev: bytes | None = None
    acc = 0
    nbits = 0
    for byte in data:
        acc = (acc << 8) | byte
        nbits += 8
        while nbits >= width:
            nbits -= width
            code = (acc >> nbits) & ((1 << width) - 1)
            if code == 257:  # EOD
                return bytes(out)
            if code == 256:  # ClearTable
                table = [bytes([i]) for i in range(256)] + [b"", b""]
                width = 9
                prev = None
                continue
            if prev is None:
                if code >= len(table):
                    raise ValueError("corrupt LZW stream: bad first code")
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                if len(table) < 4096:  # no 12-bit code reaches past 4095
                    table.append(prev + entry[:1])
            elif code == len(table):  # KwKwK
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise ValueError("corrupt LZW stream: code out of range")
            out += entry
            if len(out) > MAX_INFLATE_BYTES:
                raise ValueError(
                    "LZW stream exceeds %d bytes" % MAX_INFLATE_BYTES
                )
            prev = entry
            # decoder table lags the encoder's by one entry, so its bump
            # threshold is one lower (enc: next_code+early-1 >= 2^w)
            if len(table) + early_change >= (1 << width) and width < 12:
                width += 1
    return bytes(out)


def png_predict_encode(
    data: bytes, columns: int, colors: int = 1, bpc: int = 8,
    filter_type: int = 2,
) -> bytes:
    """Apply ONE PNG row filter (default 2 = Up, deterministic) to *data*
    laid out as rows of ``columns`` samples — the encode side of PDF
    ``/Predictor 10-15`` streams (PNG spec §6, public).  A short final
    row is filtered as-is (both sides of this module agree on that
    framing).  Any ``bpc`` in 1/2/4/8/16: PNG filters act on BYTES at
    every depth, with step ``bpp = max(1, colors*bpc/8)`` and rows of
    ``ceil(columns*colors*bpc/8)`` bytes (sub-byte samples stay packed)."""
    if bpc not in (1, 2, 4, 8, 16):
        raise ValueError("png predictor: bpc must be 1/2/4/8/16")
    bpp = max(1, colors * bpc // 8)
    rowlen = (columns * colors * bpc + 7) // 8
    out = bytearray()
    prev = bytes(rowlen)
    for r0 in range(0, len(data), rowlen):
        row = data[r0 : r0 + rowlen]
        out.append(filter_type)
        for i, x in enumerate(row):
            a = row[i - bpp] if i >= bpp else 0
            b = prev[i] if i < len(prev) else 0
            c = prev[i - bpp] if i >= bpp and i - bpp < len(prev) else 0
            if filter_type == 0:
                f = x
            elif filter_type == 1:
                f = (x - a) & 0xFF
            elif filter_type == 2:
                f = (x - b) & 0xFF
            elif filter_type == 3:
                f = (x - (a + b) // 2) & 0xFF
            elif filter_type == 4:
                f = (x - _paeth(a, b, c)) & 0xFF
            else:
                raise ValueError("bad PNG filter type %d" % filter_type)
            out.append(f)
        prev = row
    return bytes(out)


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def png_predict_decode(
    data: bytes, columns: int, colors: int = 1, bpc: int = 8
) -> bytes:
    """Undo PNG per-row filters (types 0-4, tag byte leading each row) —
    the decode side of PDF ``/Predictor >= 10``.  Handles a short final
    row.  Any ``bpc`` in 1/2/4/8/16 (bytewise filtering per PNG spec;
    see :func:`png_predict_encode` for the framing)."""
    if bpc not in (1, 2, 4, 8, 16):
        raise ValueError("png predictor: bpc must be 1/2/4/8/16")
    bpp = max(1, colors * bpc // 8)
    rowlen = (columns * colors * bpc + 7) // 8
    out = bytearray()
    prev = bytes(rowlen)
    pos = 0
    n = len(data)
    while pos < n:
        ftype = data[pos]
        pos += 1
        raw = data[pos : pos + rowlen]
        pos += len(raw)
        row = bytearray(len(raw))
        for i, f in enumerate(raw):
            a = row[i - bpp] if i >= bpp else 0
            b = prev[i] if i < len(prev) else 0
            c = prev[i - bpp] if i >= bpp and i - bpp < len(prev) else 0
            if ftype == 0:
                x = f
            elif ftype == 1:
                x = (f + a) & 0xFF
            elif ftype == 2:
                x = (f + b) & 0xFF
            elif ftype == 3:
                x = (f + (a + b) // 2) & 0xFF
            elif ftype == 4:
                x = (f + _paeth(a, b, c)) & 0xFF
            else:
                raise ValueError("bad PNG filter tag %d" % ftype)
            row[i] = x
        out += row
        prev = bytes(row)
    return bytes(out)


def _pdf_escape(line: str) -> bytes:
    """PDF literal-string escaping; non-Latin-1 chars degrade to '?'
    (Helvetica/WinAnsi has no wider repertoire — documented scope)."""
    b = line.encode("latin-1", errors="replace")
    return b.replace(b"\\", b"\\\\").replace(b"(", b"\\(").replace(b")", b"\\)")


PRED_COLUMNS = 64  # /Columns for the predictor-coded write mode


def text_to_pdf_bytes(text: str, stream_filter: str | None = None) -> bytes:
    """Render *text* to a complete, valid, deterministic PDF 1.4 file.

    ``stream_filter`` selects the content-stream encoding: ``None``
    (uncompressed, the default, so the s9 oracle's byte-length math
    remains SQL-expressible), ``"flate"`` (``/Filter /FlateDecode``,
    fixed zlib level), ``"lzw"`` (``/Filter /LZWDecode``, own codec) or
    ``"lzw-png"`` (LZW over a PNG Up-predictor pre-pass,
    ``/DecodeParms << /Predictor 12 /Columns 64 >>`` — the layout real
    xref-stream-era PDFs use).  These four are the shapes
    :func:`pdf_to_text` reads back; all are byte-deterministic."""
    lines = wrap_lines(text)
    pages = [
        lines[i : i + LINES_PER_PAGE]
        for i in range(0, len(lines), LINES_PER_PAGE)
    ] or [[]]

    # object numbering: 1 catalog, 2 pages, 3 font,
    # 4..3+N page objects, 4+N..3+2N content streams
    n = len(pages)
    objects: list[bytes] = []
    kids = " ".join(f"{4 + i} 0 R" for i in range(n))
    objects.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objects.append(
        f"<< /Type /Pages /Kids [{kids}] /Count {n} >>".encode()
    )
    objects.append(
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
    )
    for i in range(n):
        objects.append(
            (
                f"<< /Type /Page /Parent 2 0 R "
                f"/MediaBox [0 0 {PAGE_W} {PAGE_H}] "
                f"/Resources << /Font << /F1 3 0 R >> >> "
                f"/Contents {4 + n + i} 0 R >>"
            ).encode()
        )
    for page in pages:
        body = b"BT /F1 %d Tf %d %d Td %d TL\n" % (
            FONT_SIZE, MARGIN_X, TOP_Y, LEADING,
        )
        for j, line in enumerate(page):
            body += b"(" + _pdf_escape(line) + b") Tj T*\n"
        body += b"ET"
        if stream_filter == "flate":
            body = zlib.compress(body, 6)
            objects.append(
                b"<< /Length %d /Filter /FlateDecode >>\nstream\n%s\nendstream"
                % (len(body), body)
            )
        elif stream_filter == "lzw":
            body = lzw_encode(body)
            objects.append(
                b"<< /Length %d /Filter /LZWDecode >>\nstream\n%s\nendstream"
                % (len(body), body)
            )
        elif stream_filter == "lzw-png":
            body = lzw_encode(png_predict_encode(body, PRED_COLUMNS))
            objects.append(
                b"<< /Length %d /Filter /LZWDecode /DecodeParms "
                b"<< /Predictor 12 /Columns %d >> >>\nstream\n%s\nendstream"
                % (len(body), PRED_COLUMNS, body)
            )
        elif stream_filter is None:
            objects.append(
                b"<< /Length %d >>\nstream\n%s\nendstream" % (len(body), body)
            )
        else:
            raise ValueError("unknown stream_filter %r" % stream_filter)

    buf = bytearray(b"%PDF-1.4\n")
    offsets = [0]  # object 0 is the free head
    for idx, obj in enumerate(objects, start=1):
        offsets.append(len(buf))
        buf += b"%d 0 obj\n%s\nendobj\n" % (idx, obj)
    xref_at = len(buf)
    buf += b"xref\n0 %d\n" % (len(objects) + 1)
    buf += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        buf += b"%010d 00000 n \n" % off
    buf += (
        b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(objects) + 1, xref_at)
    )
    return bytes(buf)


_ESCAPE_MAP = {
    ord("n"): b"\n", ord("r"): b"\r", ord("t"): b"\t",
    ord("b"): b"\b", ord("f"): b"\f",
}


def _parse_literal(body: bytes, i: int) -> tuple[bytes, int]:
    """Parse a PDF literal string starting at ``body[i] == '('``.  Full
    spec semantics: balanced unescaped parens nest, ``\\n``-family and
    3-digit octal escapes decode, a backslash before a real EOL is a line
    continuation (both bytes dropped).  Returns (decoded bytes, index just
    past the closing paren)."""
    depth, j, out = 1, i + 1, bytearray()
    n = len(body)
    while j < n and depth:
        c = body[j]
        if c == 0x5C:  # backslash
            j += 1
            if j >= n:
                break
            e = body[j]
            if e in _ESCAPE_MAP:
                out += _ESCAPE_MAP[e]
                j += 1
            elif 0x30 <= e <= 0x37:  # up to 3 octal digits
                val, k = 0, j
                while k < n and k - j < 3 and 0x30 <= body[k] <= 0x37:
                    val = val * 8 + (body[k] - 0x30)
                    k += 1
                out.append(val & 0xFF)
                j = k
            elif e in (0x0A, 0x0D):  # escaped EOL: continuation
                j += 1
                if e == 0x0D and body[j : j + 1] == b"\n":
                    j += 1
            else:  # \( \) \\ and "ignore the backslash" for the rest
                out.append(e)
                j += 1
        elif c == 0x28:  # (
            depth += 1
            out.append(c)
            j += 1
        elif c == 0x29:  # )
            depth -= 1
            if depth:
                out.append(c)
            j += 1
        else:
            out.append(c)
            j += 1
    return bytes(out), j


def _content_lines(body: bytes) -> list[str]:
    """Extract shown text from one decoded content stream.  Line model:
    each show-text operator (``Tj``, ``'``, ``\"``) emits one line; a
    ``[...] TJ`` array emits ONE line joining its string elements (kerning
    numbers ignored).  Positioning operators are not interpreted — this is
    the same honest scope as the writer (one op per rendered line)."""
    lines: list[str] = []
    last: bytes | None = None
    tj: list[bytes] | None = None
    i, n = 0, len(body)
    while i < n:
        c = body[i]
        if c == 0x28:  # ( literal string
            s, i = _parse_literal(body, i)
            last = s
            if tj is not None:
                tj.append(s)
        elif c == 0x3C:  # < hex string  (<< is a dict open — skip)
            if body[i + 1 : i + 2] == b"<":
                i += 2
                continue
            e = body.find(b">", i)
            if e < 0:
                break
            hx = re.sub(rb"\s+", b"", body[i + 1 : e])
            if len(hx) % 2:
                hx += b"0"
            try:
                s = bytes.fromhex(hx.decode("ascii"))
            except ValueError:
                s = b""
            last = s
            if tj is not None:
                tj.append(s)
            i = e + 1
        elif c == 0x5B:  # [ — start collecting a TJ array
            tj = []
            i += 1
        elif c == 0x5D:  # ] — emit if the next operator is TJ
            m = re.match(rb"\s*TJ", body[i + 1 : i + 8])
            if m is not None and tj is not None:
                lines.append(b"".join(tj).decode("latin-1"))
                i += 1 + m.end()
            else:
                i += 1
            tj = None
        elif c == 0x54 and body[i + 1 : i + 2] == b"j":  # Tj
            if last is not None:
                lines.append(last.decode("latin-1"))
                last = None
            i += 2
        elif c in (0x27, 0x22):  # ' and " show-next-line operators
            if last is not None:
                lines.append(last.decode("latin-1"))
                last = None
            i += 1
        else:
            i += 1
    return lines


def _filter_parms(dict_bytes: bytes, names: list[bytes]) -> list[bytes]:
    """Pair each ``/Filter`` entry with its ``/DecodeParms`` dict bytes
    (PDF 1.7 §7.3.8.2: with an array Filter, DecodeParms is an array of
    the same length whose elements are dicts or ``null``).  A lone dict
    against an array Filter (spec-invalid but seen in the wild) is paired
    with the first filter; absent parms yield ``b""``."""
    m = re.search(rb"/(?:DecodeParms|DP)\b", dict_bytes)
    if not m:
        return [b""] * len(names)
    rest = dict_bytes[m.end() :].lstrip()
    if rest.startswith(b"<<"):
        j = rest.find(b">>")
        return [rest[: j + 2] if j >= 0 else rest] + [b""] * (len(names) - 1)
    if not rest.startswith(b"["):
        return [b""] * len(names)
    out, i = [], 1
    while len(out) < len(names) and i < len(rest):
        ch = rest[i : i + 1]
        if ch in b" \t\r\n":
            i += 1
        elif rest.startswith(b"null", i):
            out.append(b"")
            i += 4
        elif rest.startswith(b"<<", i):
            j = rest.find(b">>", i)
            out.append(rest[i : j + 2] if j >= 0 else rest[i:])
            i = (j + 2) if j >= 0 else len(rest)
        elif ch == b"]":
            break
        else:
            i += 1
    out += [b""] * (len(names) - len(out))
    return out


_IMAGE_RE = re.compile(rb"/Subtype\s*/Image\b")
_XREF_RE = re.compile(rb"/Type\s*/XRef\b")
_ENCRYPT_RE = re.compile(rb"/Encrypt\b")


def _is_image_xobject(dict_bytes: bytes) -> bool:
    """Whether a stream dict declares an image XObject — skipped by
    :func:`pdf_to_text`, counted by :func:`image_count`."""
    return _IMAGE_RE.search(dict_bytes) is not None


def _decode_stream(dict_bytes: bytes, body: bytes) -> bytes:
    """Apply the stream dict's filter(s) to the raw body, in order.
    Supported: ``FlateDecode`` (:func:`inflate`), ``LZWDecode``
    (:func:`lzw_decode`, ``/EarlyChange`` honored) and chains of the two;
    a PNG ``/Predictor`` (≥10) in a filter's ``/DecodeParms`` entry is
    undone after THAT filter — DecodeParms array elements are paired with
    their Filter array positions per PDF 1.7 §7.3.8.2.  Any other filter
    or predictor raises ``NotImplementedError``."""
    filters = re.findall(rb"/Filter\s*(?:\[\s*((?:/\w+\s*)+)\]|/(\w+))", dict_bytes)
    names: list[bytes] = []
    for arr, single in filters:
        if single:
            names.append(single)
        else:
            names.extend(re.findall(rb"/(\w+)", arr))
    if not names:
        return body
    bad = [x for x in names if x not in (b"FlateDecode", b"LZWDecode")]
    if bad:
        raise NotImplementedError(
            "unsupported PDF stream filter(s) %s (FlateDecode, LZWDecode "
            "and uncompressed streams decode in this environment)"
            % [x.decode() for x in bad]
        )

    parms = _filter_parms(dict_bytes, names)
    for name, parm in zip(names, parms):

        def _parm(key: bytes, default: int) -> int:
            m = re.search(rb"/" + key + rb"\s+(\d+)", parm)
            return int(m.group(1)) if m else default

        predictor = _parm(b"Predictor", 1)
        if predictor != 1 and predictor < 10:
            raise NotImplementedError(
                "unsupported PDF predictor %d (1 and the PNG predictors, "
                ">= 10, decode in this environment)" % predictor
            )
        if name == b"FlateDecode":
            try:
                body = inflate(body)
            except zlib.error as exc:
                raise ValueError(
                    "corrupt FlateDecode stream: %s" % exc
                ) from exc
        else:  # LZWDecode
            body = lzw_decode(body, early_change=_parm(b"EarlyChange", 1))
        if predictor >= 10:
            body = png_predict_decode(
                body,
                _parm(b"Columns", 1),
                _parm(b"Colors", 1),
                _parm(b"BitsPerComponent", 8),
            )
    return body


def _iter_streams(payload: bytes):
    """Yield ``(dict_bytes, raw_body)`` for every stream object.  The body
    is delimited by the dict's direct ``/Length N`` when present and
    consistent (binary-safe — compressed data may contain ``endstream``
    as a byte pattern), falling back to an ``endstream`` scan for
    indirect or absent lengths."""
    pos = 0
    n = len(payload)
    while True:
        s = payload.find(b"stream", pos)
        if s < 0:
            return
        if payload[s - 3 : s] == b"end":  # matched inside "endstream"
            pos = s + 6
            continue
        # EOL after the keyword: \r\n or \n per spec
        b0 = s + 6
        if payload[b0 : b0 + 2] == b"\r\n":
            b0 += 2
        elif payload[b0 : b0 + 1] == b"\n":
            b0 += 1
        # the stream's own dict: from the owning "N 0 obj" (bounded lookback)
        d0 = payload.rfind(b"obj", max(0, s - 4096), s)
        dict_bytes = payload[d0 if d0 >= 0 else max(0, s - 512) : s]
        body = None
        m = re.search(rb"/Length\s+(\d+)(?!\s+\d+\s+R)", dict_bytes)
        if m:
            ln = int(m.group(1))
            if b0 + ln <= n and payload[b0 + ln : b0 + ln + 16].lstrip(
                b"\r\n "
            ).startswith(b"endstream"):
                body = payload[b0 : b0 + ln]
                pos = b0 + ln
        if body is None:
            e = payload.find(b"endstream", b0)
            if e < 0:
                return  # torn stream: stop rather than loop
            body = payload[b0:e].rstrip(b"\r\n")
            pos = e
        yield dict_bytes, body


def image_count(payload: bytes) -> int:
    """Number of image XObject streams in a PDF (never decoded)."""
    streams = _iter_streams(bytes(payload))
    return sum(_is_image_xobject(d) for d, _ in streams)


def _encrypted(payload: bytes, streams) -> bool:
    """Whether the trailer declares ``/Encrypt``: the dict after the last
    ``trailer`` keyword, or the dict of a ``/Type /XRef`` stream.  Neither
    includes content-stream bytes, so text that spells ``/Encrypt`` reads
    back normally."""
    at = payload.rfind(b"trailer")
    if at >= 0 and _ENCRYPT_RE.search(payload[at:].split(b"startxref", 1)[0]):
        return True
    return any(
        _XREF_RE.search(d) and _ENCRYPT_RE.search(d) for d, _ in streams
    )


def pdf_to_text(payload: bytes) -> list[list[str]]:
    """Decode text back OUT of a PDF (the byte-decode side of the
    T1/layout axis): returns pages as lists of lines, one page per content
    stream containing a ``BT`` text block, parsed per the module-docstring
    decoder scope.  Anything non-PDF raises ``ValueError``; an encrypted
    document, or a filter or predictor outside that scope, raises
    ``NotImplementedError``."""
    if payload is None:
        raise ValueError("null payload")
    payload = bytes(payload)
    if not payload.startswith(b"%PDF-"):
        raise ValueError("not a PDF payload")
    streams = list(_iter_streams(payload))
    if _encrypted(payload, streams):
        raise NotImplementedError("encrypted PDF")
    pages: list[list[str]] = []
    for dict_bytes, raw in streams:
        if _is_image_xobject(dict_bytes):
            continue  # image XObject: no text
        body = _decode_stream(dict_bytes, raw)
        if b"BT" in body:
            pages.append(_content_lines(body))
    if not pages:
        raise ValueError("no text content streams found in PDF")
    return pages


def is_valid_pdf(payload: bytes) -> bool:
    """Structural check used by the export query's ``valid`` column: header
    + EOF marker + a startxref offset that actually points at the xref."""
    if not (payload.startswith(b"%PDF-1.4\n") and payload.endswith(b"%%EOF\n")):
        return False
    try:
        tail = payload.rsplit(b"startxref\n", 1)[1]
        at = int(tail.split(b"\n", 1)[0])
        return payload[at : at + 5] == b"xref\n"
    except (IndexError, ValueError):
        return False
