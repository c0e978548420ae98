"""Spec-compliant synthetic media generators (stdlib only).

Unlike the byte-blob fakes in ``schema.with_media_payload``, these emit
REAL container formats — a RIFF/WAVE file written by the stdlib ``wave``
module and a hand-assembled 24-bit uncompressed BMP — so the decode
kernels in ``decode.py`` exercise genuine format parsing (RIFF chunk
walk, DIB header fields, 4-byte BMP row padding), not a stand-in.  Every
parameter is a pure function of ``doc_id``, which is what lets a DuckDB
oracle predict the decoded values without being able to parse the bytes
itself: Spark's side of the differential check must get them by decoding.
"""

from __future__ import annotations

import io
import struct
from itertools import groupby
import wave
import zlib

from .bits import (
    LsbWriter,
    MsbWriter,
    by_length,
    code_book,
    crc_table,
    stuffed_bytes,
)


def wav_params(doc_id: int) -> tuple[int, int, int]:
    """(framerate, n_frames, amplitude) for the square-wave fixture."""
    framerate = 8000 + (doc_id % 4) * 4000
    n_frames = 400 + (doc_id % 100) * 8
    amplitude = 1000 + (doc_id % 50) * 100
    return framerate, n_frames, amplitude


def make_wav_bytes(doc_id: int) -> bytes:
    """Mono 16-bit PCM RIFF/WAVE: a ±amplitude square wave (exact integer
    peak and RMS — no float in the ground truth)."""
    framerate, n_frames, amplitude = wav_params(doc_id)
    samples = b"".join(
        struct.pack("<h", amplitude if i % 2 == 0 else -amplitude)
        for i in range(n_frames)
    )
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(framerate)
        w.writeframes(samples)
    return buf.getvalue()


def bmp_params(doc_id: int) -> tuple[int, int, tuple[int, int, int]]:
    """(width, height, (r, g, b)) for the solid-color fixture.  Widths
    include non-multiples of 4 so decoders must honor BMP row padding."""
    width = 16 + doc_id % 17
    height = 8 + doc_id % 8
    color = (doc_id % 256, (doc_id * 7) % 256, (doc_id * 13) % 256)
    return width, height, color


def make_bmp_bytes(doc_id: int) -> bytes:
    """Uncompressed 24-bit bottom-up BMP (BITMAPINFOHEADER), rows padded
    to 4 bytes per the spec."""
    width, height, (r, g, b) = bmp_params(doc_id)
    row = bytes((b, g, r)) * width
    pad = (4 - (len(row) % 4)) % 4
    pixel_data = (row + b"\x00" * pad) * height
    dib = struct.pack(
        "<IiiHHIIiiII",
        40,  # BITMAPINFOHEADER size
        width,
        height,  # positive → bottom-up row order
        1,  # planes
        24,  # bits per pixel
        0,  # BI_RGB (uncompressed)
        len(pixel_data),
        2835,  # 72 DPI in px/m
        2835,
        0,
        0,
    )
    offset = 14 + 40
    header = struct.pack(
        "<2sIHHI", b"BM", offset + len(pixel_data), 0, 0, offset
    )
    return header + dib + pixel_data


def png_params(doc_id: int) -> tuple[int, int, tuple[int, int, int]]:
    """(width, height, (r, g, b)) for the solid-color PNG fixture.
    Distinct formulas from bmp_params so a decoder can't pass by reading
    the wrong synthesizer."""
    width = 12 + doc_id % 19
    height = 6 + doc_id % 11
    color = ((doc_id * 3) % 256, (doc_id * 11) % 256, (doc_id * 17) % 256)
    return width, height, color


def _paeth(a: int, b: int, c: int) -> int:
    """PNG Paeth predictor (RFC 2083 §6.6)."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def make_png_bytes(doc_id: int) -> bytes:
    """Real compressed PNG: 8-bit/channel RGB (color type 2), scanlines
    filtered then zlib-DEFLATEd into IDAT, CRC-32 on every chunk.  The
    filter type CYCLES per row (row % 5 → None/Sub/Up/Average/Paeth), so
    a decoder must implement all five unfilters — a solid-color image
    under Sub/Up/Average/Paeth still produces nontrivial filtered bytes,
    while the ground-truth channel means stay exact integers."""
    import zlib

    width, height, (r, g, b) = png_params(doc_id)
    bpp = 3  # bytes per pixel
    row = bytes((r, g, b)) * width

    # every row of the solid image is identical, so each filter type
    # produces ONE filtered form (row 0's f=0 ignores prev entirely,
    # and every later row has prev == row): compute the five forms
    # once and assemble scanlines by cycling them — byte-identical to
    # filtering each of the <= 16 rows separately
    def filtered(f: int) -> bytes:
        prev = row
        filt = bytearray(len(row))
        for x in range(len(row)):
            left = row[x - bpp] if x >= bpp else 0
            up = prev[x]
            up_left = prev[x - bpp] if x >= bpp else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = left
            elif f == 2:
                pred = up
            elif f == 3:
                pred = (left + up) // 2
            else:
                pred = _paeth(left, up, up_left)
            filt[x] = (row[x] - pred) & 0xFF
        return bytes([f]) + bytes(filt)

    forms = [filtered(f) for f in range(min(5, height))]
    idat = zlib.compress(
        b"".join(forms[y % 5] for y in range(height))
    )

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data))
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", idat)
        + chunk(b"IEND", b"")
    )


PNG_CT_COMBOS = (
    (0, 1), (0, 2), (0, 4), (0, 8), (0, 16), (4, 8), (4, 16),
    (6, 8), (6, 16),
)


def png_ct_params(doc_id: int) -> tuple[int, int, int, int]:
    """(width, height, color_type, bit_depth) — the fixture cycles
    every legal grayscale / gray+alpha / RGBA combination, with
    widths chosen so sub-byte rows genuinely carry padding bits."""
    ct, depth = PNG_CT_COMBOS[doc_id % 9]
    return 5 + doc_id % 12, 4 + doc_id % 6, ct, depth


def png_ct_sample(doc_id: int, ch: int, x: int, y: int) -> int:
    """Channel ch's sample at (x, y): 0 = gray/red, 1 = green,
    2 = blue, 3 = alpha — reduced modulo the combo's sample range."""
    _w, _h, _ct, depth = png_ct_params(doc_id)
    base = (
        doc_id + 3 * x + 7 * y,
        doc_id + 5 * x + y,
        doc_id + x + 3 * y,
        doc_id + x + 2 * y,
    )[ch]
    return base % (1 << depth)


def make_png_ct_bytes(doc_id: int) -> bytes:
    """Real PNG across the OTHER color types: grayscale (type 0, bit
    depths 1/2/4/8/16 with MSB-first sub-byte packing and padded row
    tails), gray+alpha (4) and RGBA (6) at 8/16 bits — scanline
    filters cycling all five per row with the spec's bpp =
    max(1, channel_bytes) reach, zlib IDAT (split across TWO chunks,
    which readers must concatenate), CRC-32 on every chunk."""
    import zlib

    width, height, ct, depth = png_ct_params(doc_id)
    n_ch = {0: 1, 4: 2, 6: 4}[ct]

    def row_bytes(y: int) -> bytes:
        if depth < 8:
            acc = 0
            nbits = 0
            out = bytearray()
            for x in range(width):
                acc = (acc << depth) | png_ct_sample(doc_id, 0, x, y)
                nbits += depth
                if nbits == 8:
                    out.append(acc)
                    acc = nbits = 0
            if nbits:
                out.append(acc << (8 - nbits))
            return bytes(out)
        out = bytearray()
        for x in range(width):
            chans = [0] if ct == 0 else (
                [0, 3] if ct == 4 else [0, 1, 2, 3]
            )
            for ch in chans:
                v = png_ct_sample(doc_id, ch, x, y)
                if depth == 16:
                    out += v.to_bytes(2, "big")
                else:
                    out.append(v)
        return bytes(out)

    bpp = max(1, n_ch * depth // 8)
    prev = bytes(len(row_bytes(0)))
    scanlines = []
    for y in range(height):
        row = row_bytes(y)
        f = y % 5
        filt = bytearray(len(row))
        for x in range(len(row)):
            left = row[x - bpp] if x >= bpp else 0
            up = prev[x]
            up_left = prev[x - bpp] if x >= bpp else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = left
            elif f == 2:
                pred = up
            elif f == 3:
                pred = (left + up) // 2
            else:
                pred = _paeth(left, up, up_left)
            filt[x] = (row[x] - pred) & 0xFF
        scanlines.append(bytes([f]) + bytes(filt))
        prev = row
    raw = zlib.compress(b"".join(scanlines))
    half = len(raw) // 2

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data))
        )

    ihdr = struct.pack(">IIBBBBB", width, height, depth, ct, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", raw[:half])
        + chunk(b"IDAT", raw[half:])
        + chunk(b"IEND", b"")
    )


def jpeg_params(doc_id: int) -> tuple[int, int, int]:
    """(blocks_x, blocks_y, base) for the block-gradient JPEG fixture.
    Block k (raster order) is the constant value base + k; with dims a
    multiple of 8 and Q[DC] = 8 the decode is EXACT (see
    make_jpeg_bytes), so the pixel mean has the closed form
    base + (n_blocks - 1) // 2 a SQL oracle can state."""
    blocks_x = 2 + doc_id % 4
    blocks_y = 1 + doc_id % 3
    base = (doc_id * 5) % 150  # + at most 14 keeps every value < 255
    return blocks_x, blocks_y, base


# JPEG zigzag order: zigzag index -> natural (row*8+col) index (ISO/IEC
# 10918-1 Figure 5).  Shared by the encoder (DQT emission) and decoder
# (coefficient placement).
JPEG_ZIGZAG = (
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
)

# Canonical Huffman spec for the fixture scan: DC symbols are the 12
# JPEG size categories, all at code length 4 (12 of 16 codes used, the
# all-ones code left free); AC has the single symbol EOB at length 2.
JPEG_DC_COUNTS = bytes(16 * [0])[:3] + bytes([12]) + bytes(12 * [0])
JPEG_DC_SYMBOLS = bytes(range(12))
JPEG_AC_COUNTS = bytes([0, 1]) + bytes(14 * [0])
JPEG_AC_SYMBOLS = bytes([0x00])


def jpeg_code_pairs(counts: bytes, symbols: bytes) -> tuple:
    """A DHT's BITS (code counts for lengths 1-16) and HUFFVAL as the
    (symbol, length) pairs ``bits.canonical_codes`` takes (Annex C:
    shortest codes first, HUFFVAL order within a length).  Indexing
    past the end of either raises IndexError."""
    lengths = [ln for ln in range(1, 17) for _ in range(counts[ln - 1])]
    return tuple((symbols[k], ln) for k, ln in enumerate(lengths))


# the fixture tables' encoder maps, symbol -> (code, length)
JPEG_DC_CODES = code_book(jpeg_code_pairs(JPEG_DC_COUNTS, JPEG_DC_SYMBOLS))
JPEG_AC_CODES = code_book(jpeg_code_pairs(JPEG_AC_COUNTS, JPEG_AC_SYMBOLS))


def make_jpeg_bytes(doc_id: int) -> bytes:
    """Real baseline-sequential JPEG (ISO/IEC 10918-1): 8-bit grayscale,
    one DQT (Q[DC] = 8, ACs unused), SOF0, custom canonical DHTs, and an
    entropy-coded scan with DC differential coding, category/extend bit
    packing, EOB per block, byte stuffing, and 1-padding.

    Each 8x8 block is the constant base + k, so every DCT has a single
    nonzero coefficient F(0,0) = 8*(v - 128); quantizing by Q[DC] = 8
    stores v - 128 exactly and the decode round-trips losslessly — the
    ground truth stays integer-exact while the DC Huffman path does real
    work (the first block's diff spans categories up to 8; later diffs
    are +1, category 1).  Every third doc writes a DRI segment and real
    RSTn markers every 2-4 MCUs — 1-padded segment flushes, cycling
    D0-D7 markers, and DC-prediction resets a decoder must honor (the
    post-restart diff is a full-magnitude category again)."""
    blocks_x, blocks_y, base = jpeg_params(doc_id)
    ri = 2 + (doc_id // 3) % 3 if doc_id % 3 == 0 else 0
    return _jpeg_encode(blocks_x, blocks_y, base, restart_interval=ri)


def _jpeg_encode(
    blocks_x: int, blocks_y: int, base: int, restart_interval: int = 0
) -> bytes:
    """The encoder core behind ``make_jpeg_bytes``, parameterized so the
    MJPEG-in-AVI synthesizer can emit frames sharing one geometry with a
    per-frame base level.  ``restart_interval`` > 0 writes a DRI segment
    and a byte-aligned RSTn marker (cycling D0-D7) after every that many
    MCUs, resetting the DC predictor per ISO/IEC 10918-1 E.1.4."""
    width, height = 8 * blocks_x, 8 * blocks_y

    quant = bytearray(64)
    quant[0] = 8  # zigzag 0 = DC; stored in zigzag order per the spec
    for i in range(1, 64):
        quant[i] = 16

    dc_codes, ac_codes = JPEG_DC_CODES, JPEG_AC_CODES

    w = MsbWriter()
    pred = 0
    parts = []
    rst = 0
    for k in range(blocks_x * blocks_y):
        if restart_interval and k and k % restart_interval == 0:
            parts.append(stuffed_bytes(w))
            parts.append(bytes((0xFF, 0xD0 + rst % 8)))
            rst += 1
            w = MsbWriter()
            pred = 0
        dc = (base + k) - 128  # quantized DC = v - 128 exactly (Q=8)
        diff = dc - pred
        pred = dc
        size = diff.bit_length() if diff else 0  # |diff| fits category
        if diff < 0:
            size = (-diff).bit_length()
        code, length = dc_codes[size]
        w.u(code, length)
        if size:
            bits = diff if diff >= 0 else diff + (1 << size) - 1
            w.u(bits & ((1 << size) - 1), size)
        code, length = ac_codes[0x00]  # EOB: all 63 ACs are zero
        w.u(code, length)
    parts.append(stuffed_bytes(w))
    scan = b"".join(parts)

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    dri = (
        seg(0xFFDD, struct.pack(">H", restart_interval))
        if restart_interval
        else b""
    )
    return (
        b"\xff\xd8"  # SOI
        + seg(0xFFDB, bytes([0x00]) + bytes(quant))  # DQT: 8-bit table 0
        + seg(  # SOF0: baseline, 8-bit, 1 component, no subsampling
            0xFFC0,
            struct.pack(">BHHB", 8, height, width, 1) + bytes([1, 0x11, 0]),
        )
        + seg(0xFFC4, bytes([0x00]) + JPEG_DC_COUNTS + JPEG_DC_SYMBOLS)
        + seg(0xFFC4, bytes([0x10]) + JPEG_AC_COUNTS + JPEG_AC_SYMBOLS)
        + dri
        + seg(0xFFDA, bytes([1, 1, 0x00, 0, 63, 0]))  # SOS
        + scan
        + b"\xff\xd9"  # EOI
    )


# Progressive-scan AC Huffman table: every symbol the 6-scan script can
# emit, all at code length 5 (22 of 32 slots used — a legal incomplete
# canonical table).  s=0 rows 0-4 are EOBRUN magnitudes (runs up to 31
# blocks), s=1 rows 0-15 the run/newly-nonzero codes, 0xF0 is ZRL.
JPEG_PROG_AC_SYMBOLS = bytes(
    [0x00, 0x10, 0x20, 0x30, 0x40]
    + [(r << 4) | 1 for r in range(16)]
    + [0xF0]
)
JPEG_PROG_AC_COUNTS = bytes([0, 0, 0, 0, len(JPEG_PROG_AC_SYMBOLS)] + [0] * 11)
JPEG_PROG_AC_CODES = code_book(
    jpeg_code_pairs(JPEG_PROG_AC_COUNTS, JPEG_PROG_AC_SYMBOLS)
)


def jpeg_prog_rst_interval(doc_id: int) -> int:
    """Restart interval (MCUs = blocks, grayscale non-interleaved)
    for the progressive-restart fixture."""
    return 2 + doc_id % 3


def make_jpeg_prog_rst_bytes(doc_id: int) -> bytes:
    """PROGRESSIVE JPEG with DRI/RSTn restart intervals inside every
    scan (ISO/IEC 10918-1 E.1.4 + Annex G): the same 6-scan script
    and final coefficients as ``make_jpeg_prog_bytes``, but each
    scan's entropy data splits into restart segments of
    ``jpeg_prog_rst_interval`` blocks — every segment byte-aligned
    with 1-padding, the DC predictor and EOBRUN reset per segment,
    and the RSTn markers cycling D0-D7.  Decoders that carry the DC
    predictor or an EOBRUN across a restart land different
    coefficients and fail the pinned sums."""
    bx, by, _base = jpeg_prog_params(doc_id)
    blocks = [jpeg_prog_coefs(doc_id, k) for k in range(bx * by)]
    width, height = 8 * bx, 8 * by
    ri = jpeg_prog_rst_interval(doc_id)

    quant = bytearray(64)
    quant[0] = 8
    for i in range(1, 64):
        quant[i] = 16

    dc_codes, ac_codes = JPEG_DC_CODES, JPEG_PROG_AC_CODES

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    def sos(ss: int, se: int, ah: int, al: int, td: int, ta: int) -> bytes:
        return seg(
            0xFFDA, bytes([1, 1, (td << 4) | ta, ss, se, (ah << 4) | al])
        )

    def segmented(encode_one) -> bytes:
        """Run ``encode_one(writer, seg_blocks)`` per restart segment
        and join the flushed segments with cycling RSTn markers."""
        parts = []
        for si in range(0, len(blocks), ri):
            w = MsbWriter()
            encode_one(w, blocks[si : si + ri])
            if si:
                parts.append(bytes([0xFF, 0xD0 + ((si // ri) - 1) % 8]))
            parts.append(stuffed_bytes(w))
        return b"".join(parts)

    out = bytearray()
    out += b"\xff\xd8"
    out += seg(0xFFDB, bytes([0x00]) + bytes(quant))
    out += seg(
        0xFFC2,
        struct.pack(">BHHB", 8, height, width, 1) + bytes([1, 0x11, 0]),
    )
    out += seg(0xFFDD, struct.pack(">H", ri))  # DRI
    out += seg(0xFFC4, bytes([0x00]) + JPEG_DC_COUNTS + JPEG_DC_SYMBOLS)
    out += seg(
        0xFFC4, bytes([0x10]) + JPEG_PROG_AC_COUNTS + JPEG_PROG_AC_SYMBOLS
    )

    # scan 1: DC first, Al = 1 — predictor resets per segment
    def dc_first(w, seg_blocks):
        pred = 0
        for coef in seg_blocks:
            pt = coef[0] >> 1
            diff = pt - pred
            pred = pt
            size = abs(diff).bit_length()
            code, length = dc_codes[size]
            w.u(code, length)
            if size:
                bits = diff if diff >= 0 else diff + (1 << size) - 1
                w.u(bits & ((1 << size) - 1), size)

    out += sos(0, 0, 0, 1, 0, 0) + segmented(dc_first)

    # scans 2-3: AC first per band (EOBRUN cannot cross a restart)
    for ss, se in ((1, 5), (6, 63)):
        out += sos(ss, se, 0, 1, 0, 0) + segmented(
            lambda w, sb, ss=ss, se=se: _jpeg_prog_ac_first(
                w, ac_codes, sb, ss, se, 1
            )
        )

    # scan 4: DC refinement — one raw bit per block
    def dc_refine(w, seg_blocks):
        for coef in seg_blocks:
            w.u(coef[0] & 1, 1)

    out += sos(0, 0, 1, 0, 0, 0) + segmented(dc_refine)

    # scans 5-6: AC refinement per band
    for ss, se in ((1, 5), (6, 63)):
        out += sos(ss, se, 1, 0, 0, 0) + segmented(
            lambda w, sb, ss=ss, se=se: _jpeg_prog_ac_refine(
                w, ac_codes, sb, ss, se, 0
            )
        )

    out += b"\xff\xd9"
    return bytes(out)


def jpeg_prog_params(doc_id: int) -> tuple[int, int, int]:
    """(blocks_x, blocks_y, base) for the progressive-JPEG fixture."""
    return 2 + doc_id % 4, 2 + doc_id % 3, 40 + doc_id % 150


def jpeg_prog_coefs(doc_id: int, k: int) -> list[int]:
    """Block k's 64 QUANTIZED coefficients in zigzag order (closed
    forms): DC = base + k - 128, one low-band AC at zigzag 1-5 with
    value in [-3, 3], one high-band AC at zigzag 6-63 with value in
    [-2, 2] — magnitudes that exercise both the newly-nonzero (|v| = 1)
    and the correction-bit (|v| >= 2) paths of the successive-
    approximation refinement scans."""
    _bx, _by, base = jpeg_prog_params(doc_id)
    coef = [0] * 64
    coef[0] = base + k - 128
    coef[1 + (doc_id + k) % 5] = ((doc_id + 2 * k) % 7) - 3
    coef[6 + (doc_id + 3 * k) % 58] = ((doc_id + 5 * k) % 5) - 2
    return coef


def _jpeg_prog_ac_first(
    w: MsbWriter, ac_codes: dict, blocks: list, ss: int, se: int, al: int
) -> None:
    """One AC spectral-selection scan at successive-approximation bit
    position ``al`` (ISO/IEC 10918-1 G.1.2.2): point-transformed
    values, run/size coding, ZRL, and EOBRUN accumulation across
    all-zero bands."""
    eobrun = 0

    def flush_eobrun() -> None:
        nonlocal eobrun
        if eobrun:
            r = eobrun.bit_length() - 1
            code, length = ac_codes[r << 4]
            w.u(code, length)
            if r:
                w.u(eobrun - (1 << r), r)
            eobrun = 0

    for coef in blocks:
        vals = []
        for k in range(ss, se + 1):
            v = coef[k]
            t = abs(v) >> al
            vals.append(t if v >= 0 else -t)
        if not any(vals):
            eobrun += 1
            continue
        flush_eobrun()
        run = 0
        for t in vals:
            if t == 0:
                run += 1
                continue
            while run > 15:
                code, length = ac_codes[0xF0]
                w.u(code, length)
                run -= 16
            s = abs(t).bit_length()
            code, length = ac_codes[(run << 4) | s]
            w.u(code, length)
            bits = t if t >= 0 else t + (1 << s) - 1
            w.u(bits & ((1 << s) - 1), s)
            run = 0
        if run:
            eobrun += 1
    flush_eobrun()


def _jpeg_prog_ac_refine(
    w: MsbWriter, ac_codes: dict, blocks: list, ss: int, se: int, al: int
) -> None:
    """One AC refinement scan (G.1.2.3): newly-nonzero coefficients
    (|v| >> al == 1) as run/sign codes over ZERO-HISTORY positions,
    correction bits for already-nonzero coefficients interleaved after
    the symbol they precede, and EOBRUN with its buffered correction
    bits — the exact interleave the Annex-G decoder consumes."""
    eobrun = 0
    pending: list[int] = []

    def flush_eobrun() -> None:
        nonlocal eobrun
        if eobrun:
            r = eobrun.bit_length() - 1
            code, length = ac_codes[r << 4]
            w.u(code, length)
            if r:
                w.u(eobrun - (1 << r), r)
            for b in pending:
                w.u(b, 1)
            pending.clear()
            eobrun = 0

    for coef in blocks:
        temp = [abs(coef[k]) >> al for k in range(ss, se + 1)]
        signs = [coef[k] >= 0 for k in range(ss, se + 1)]
        if not any(t == 1 for t in temp):
            # no newly-nonzero coefficient: the whole band joins the
            # EOB run; already-nonzero coefs still owe correction bits
            pending.extend(t & 1 for t in temp if t > 1)
            eobrun += 1
            if eobrun == 0x7FFF:
                flush_eobrun()
            continue
        flush_eobrun()
        run = 0
        br: list[int] = []
        for t, pos in zip(temp, signs):
            if t == 0:
                run += 1
                continue
            if t > 1:
                br.append(t & 1)
                continue
            while run > 15:
                code, length = ac_codes[0xF0]
                w.u(code, length)
                for b in br:
                    w.u(b, 1)
                br = []
                run -= 16
            code, length = ac_codes[(run << 4) | 1]
            w.u(code, length)
            w.u(1 if pos else 0, 1)
            for b in br:
                w.u(b, 1)
            br = []
            run = 0
        if run or br:
            pending.extend(br)
            eobrun += 1
    flush_eobrun()


def make_jpeg_prog_bytes(doc_id: int) -> bytes:
    """Real PROGRESSIVE JPEG (ISO/IEC 10918-1 Annex G): SOF2, then the
    6-scan script libjpeg-shaped encoders emit — DC first at
    successive-approximation position 1 (diff coding of the
    arithmetic-shifted DCs), AC first for bands 1-5 and 6-63 at
    position 1 (point transform toward zero, EOBRUN across all-zero
    bands), DC refinement (one raw bit per block), and AC refinement
    for both bands (newly-nonzero run/sign codes over zero-history
    positions with correction bits interleaved, EOBRUN carrying its
    buffered correction bits).  Coefficient transmission is exact: the
    final per-block coefficients equal ``jpeg_prog_coefs`` regardless
    of the scan script, which is what the oracle pins."""
    bx, by, _base = jpeg_prog_params(doc_id)
    blocks = [jpeg_prog_coefs(doc_id, k) for k in range(bx * by)]
    width, height = 8 * bx, 8 * by

    quant = bytearray(64)
    quant[0] = 8
    for i in range(1, 64):
        quant[i] = 16

    dc_codes, ac_codes = JPEG_DC_CODES, JPEG_PROG_AC_CODES

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    def sos(ss: int, se: int, ah: int, al: int, td: int, ta: int) -> bytes:
        return seg(
            0xFFDA, bytes([1, 1, (td << 4) | ta, ss, se, (ah << 4) | al])
        )

    out = bytearray()
    out += b"\xff\xd8"
    out += seg(0xFFDB, bytes([0x00]) + bytes(quant))
    out += seg(
        0xFFC2,
        struct.pack(">BHHB", 8, height, width, 1) + bytes([1, 0x11, 0]),
    )
    out += seg(0xFFC4, bytes([0x00]) + JPEG_DC_COUNTS + JPEG_DC_SYMBOLS)
    out += seg(
        0xFFC4, bytes([0x10]) + JPEG_PROG_AC_COUNTS + JPEG_PROG_AC_SYMBOLS
    )

    # scan 1: DC first, Al = 1 (arithmetic shift per G.1.2.1)
    w = MsbWriter()
    pred = 0
    for coef in blocks:
        pt = coef[0] >> 1
        diff = pt - pred
        pred = pt
        size = abs(diff).bit_length()
        code, length = dc_codes[size]
        w.u(code, length)
        if size:
            bits = diff if diff >= 0 else diff + (1 << size) - 1
            w.u(bits & ((1 << size) - 1), size)
    out += sos(0, 0, 0, 1, 0, 0) + stuffed_bytes(w)

    # scans 2-3: AC first per band, Al = 1
    for ss, se in ((1, 5), (6, 63)):
        w = MsbWriter()
        _jpeg_prog_ac_first(w, ac_codes, blocks, ss, se, 1)
        out += sos(ss, se, 0, 1, 0, 0) + stuffed_bytes(w)

    # scan 4: DC refinement — one raw bit per block
    w = MsbWriter()
    for coef in blocks:
        w.u(coef[0] & 1, 1)
    out += sos(0, 0, 1, 0, 0, 0) + stuffed_bytes(w)

    # scans 5-6: AC refinement per band
    for ss, se in ((1, 5), (6, 63)):
        w = MsbWriter()
        _jpeg_prog_ac_refine(w, ac_codes, blocks, ss, se, 0)
        out += sos(ss, se, 1, 0, 0, 0) + stuffed_bytes(w)

    out += b"\xff\xd9"
    return bytes(out)


def jpeg_exif_fields(doc_id: int) -> tuple[int, int, str]:
    """(orientation, iso, make) for the EXIF fixture — closed forms a
    SQL oracle restates (make's LENGTH is what the oracle pins)."""
    return 1 + doc_id % 8, 100 * (1 + doc_id % 32), f"Maker{doc_id % 100}"


def make_jpeg_exif_bytes(doc_id: int) -> bytes:
    """A baseline JPEG whose APP1 segment carries REAL Exif metadata
    (Exif 2.x = a TIFF structure after the ``Exif\\0\\0`` signature):
    byte order cycles II/MM per doc, IFD0 holds Make (ASCII, stored
    out-of-line), Orientation (SHORT in-slot), and the ExifIFD pointer
    (0x8769); the Exif sub-IFD holds ISOSpeedRatings and
    PixelXDimension/PixelYDimension — which MATCH the SOF frame size,
    the cross-check a metadata extractor should make.  Every third
    doc chains a thumbnail IFD1 (Compression 6 + the
    JPEGInterchangeFormat/Length pair framing an embedded baseline
    JPEG), the DSLR layout.  The image body is the standard
    block-gradient fixture."""
    bx, by, base = jpeg_params(doc_id)
    width, height = 8 * bx, 8 * by
    orientation, iso, make = jpeg_exif_fields(doc_id)
    be = doc_id % 2 == 1
    e = ">" if be else "<"
    make_b = make.encode() + b"\x00"

    def entry(tag: int, typ: int, count: int, value: bytes) -> bytes:
        return struct.pack(e + "HHI", tag, typ, count) + value.ljust(4, b"\x00")

    # every third doc chains a thumbnail IFD1 after IFD0 (the layout
    # DSLR output has): Compression 6 (JPEG), JPEGInterchangeFormat/
    # Length framing an embedded baseline JPEG (the standard
    # block-gradient fixture at its own closed-form base)
    with_thumb = doc_id % 3 == 0
    thumb = (
        _jpeg_encode(2 + doc_id % 4, 1, (doc_id * 7) % 150)
        if with_thumb else b""
    )

    # layout: TIFF header (8) | IFD0 (2 + 3*12 + 4) | make string |
    # ExifIFD (2 + 3*12 + 4) | [IFD1 (2 + 3*12 + 4) | thumbnail JPEG]
    ifd0_at = 8
    ifd0_len = 2 + 3 * 12 + 4
    make_at = ifd0_at + ifd0_len
    exif_at = make_at + len(make_b)
    exif_len = 2 + 3 * 12 + 4
    ifd1_at = exif_at + exif_len if with_thumb else 0
    thumb_at = ifd1_at + 2 + 3 * 12 + 4
    tiff = bytearray()
    tiff += (b"MM" if be else b"II") + struct.pack(e + "H", 42)
    tiff += struct.pack(e + "I", ifd0_at)
    tiff += struct.pack(e + "H", 3)
    tiff += entry(0x010F, 2, len(make_b), struct.pack(e + "I", make_at))
    tiff += entry(0x0112, 3, 1, struct.pack(e + "H", orientation))
    tiff += entry(0x8769, 4, 1, struct.pack(e + "I", exif_at))
    tiff += struct.pack(e + "I", ifd1_at)  # next IFD (IFD1 when chained)
    tiff += make_b
    tiff += struct.pack(e + "H", 3)
    tiff += entry(0x8827, 3, 1, struct.pack(e + "H", iso))
    tiff += entry(0xA002, 4, 1, struct.pack(e + "I", width))
    tiff += entry(0xA003, 4, 1, struct.pack(e + "I", height))
    tiff += struct.pack(e + "I", 0)
    if with_thumb:
        tiff += struct.pack(e + "H", 3)
        tiff += entry(0x0103, 3, 1, struct.pack(e + "H", 6))
        tiff += entry(0x0201, 4, 1, struct.pack(e + "I", thumb_at))
        tiff += entry(0x0202, 4, 1, struct.pack(e + "I", len(thumb)))
        tiff += struct.pack(e + "I", 0)
        tiff += thumb

    app1_payload = b"Exif\x00\x00" + bytes(tiff)
    app1 = struct.pack(">HH", 0xFFE1, len(app1_payload) + 2) + app1_payload
    body = _jpeg_encode(bx, by, base)
    return body[:2] + app1 + body[2:]  # APP1 right after SOI


def jpeg_color_mode(doc_id: int) -> tuple[int, int]:
    """(h, v) luma sampling factors for the color-JPEG fixture: the
    corpus cycles 4:2:0 (2,2), 4:2:2 (2,1), 4:4:4 (1,1), and 4:1:1
    (4,1 — the DV-style factor-4 layout real DSLR/camcorder output
    uses) — chroma is always (1,1)."""
    return ((2, 2), (2, 1), (1, 1), (4, 1))[doc_id % 4]


def jpeg_color_params(doc_id: int) -> tuple[int, int, int, int]:
    """(h, v, mcus_x, mcus_y) for the color fixture; the image is an
    exact MCU multiple (partial-MCU edges are the declared boundary)."""
    h, v = jpeg_color_mode(doc_id)
    return h, v, 1 + doc_id % 3, 1 + doc_id % 2


def jpeg_color_dc(doc_id: int, comp: int, j: int) -> int:
    """Quantized DC of component ``comp`` (0 = Y, 1 = Cb, 2 = Cr) data
    unit j, in MCU-interleaved order — closed forms a SQL oracle
    restates."""
    if comp == 0:
        return ((doc_id * 3 + 7 * j) % 240) - 120
    if comp == 1:
        return ((doc_id * 5 + 11 * j) % 200) - 100
    return ((doc_id * 7 + 13 * j) % 180) - 90


def jpeg_color_ac(doc_id: int, comp: int, j: int) -> tuple[int, int]:
    """(zigzag_position, value) of the single AC coefficient in that
    data unit; value is ±1 so the run/size AC path does real work while
    signed sums stay closed-form."""
    pos = 1 + (doc_id + (comp + 1) * j) % 63
    val = 1 if (doc_id + comp + j) % 2 == 0 else -1
    return pos, val


def make_jpeg_color_bytes(doc_id: int) -> bytes:
    """Real baseline-sequential COLOR JPEG (ISO/IEC 10918-1 A.2.3):
    three components (YCbCr ids 1/2/3), luma sampling cycling
    4:2:0 / 4:2:2 / 4:4:4 / 4:1:1, TWO quantization tables and TWO DC/AC
    Huffman table pairs (luma 0, chroma 1 — the layout real encoders
    emit), and one interleaved scan whose MCUs carry h*v luma data
    units then Cb then Cr, each component running its OWN DC
    predictor.  Every data unit is one DC (category/extend diff
    coding) plus one ±1 AC at a closed-form zigzag position (run/size
    coding + EOB)."""
    return _jpeg_color_encode(doc_id, 0)


def jpeg_cdri_interval(doc_id: int) -> int:
    """Restart interval (MCUs per segment) for the interleaved-DRI
    fixture: 1..4, so single-MCU segments occur often."""
    return 1 + doc_id % 4


def make_jpeg_cdri_bytes(doc_id: int) -> bytes:
    """Interleaved-YCbCr baseline JPEG with DRI/RSTn restart
    intervals — the camera-default form (ISO/IEC 10918-1 E.1.4): the
    same per-unit closed forms as ``make_jpeg_color_bytes`` but the
    scan splits into 1-padded byte-aligned restart segments of
    ``jpeg_cdri_interval`` MCUs with cycling D0-D7 markers, and
    every component's DC predictor resets per segment (the
    post-restart DC diffs are full-magnitude categories again)."""
    return _jpeg_color_encode(doc_id, jpeg_cdri_interval(doc_id))


def _jpeg_color_encode(doc_id: int, restart_interval: int) -> bytes:
    h, v, mx, my = jpeg_color_params(doc_id)
    width, height = 8 * h * mx, 8 * v * my

    quant = bytearray(64)
    quant[0] = 8
    for i in range(1, 64):
        quant[i] = 16

    dc_codes, ac_codes = JPEG_DC_CODES, JPEG_PROG_AC_CODES

    w = MsbWriter()
    pred = [0, 0, 0]
    counts = [0, 0, 0]  # data units emitted so far, per component

    def unit(comp: int) -> None:
        j = counts[comp]
        counts[comp] += 1
        dc = jpeg_color_dc(doc_id, comp, j)
        diff = dc - pred[comp]
        pred[comp] = dc
        size = abs(diff).bit_length()
        code, length = dc_codes[size]
        w.u(code, length)
        if size:
            bits = diff if diff >= 0 else diff + (1 << size) - 1
            w.u(bits & ((1 << size) - 1), size)
        pos, val = jpeg_color_ac(doc_id, comp, j)
        run = pos - 1
        while run > 15:
            code, length = ac_codes[0xF0]
            w.u(code, length)
            run -= 16
        code, length = ac_codes[(run << 4) | 1]
        w.u(code, length)
        w.u(1 if val > 0 else 0, 1)
        if pos < 63:
            code, length = ac_codes[0x00]  # EOB
            w.u(code, length)

    parts = []
    rst = 0
    for m in range(mx * my):
        if restart_interval and m and m % restart_interval == 0:
            parts.append(stuffed_bytes(w))
            parts.append(bytes((0xFF, 0xD0 + rst % 8)))
            rst += 1
            w = MsbWriter()
            pred[0] = pred[1] = pred[2] = 0
        for _ in range(h * v):
            unit(0)
        unit(1)
        unit(2)
    parts.append(stuffed_bytes(w))
    scan = b"".join(parts)

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    dri = (
        seg(0xFFDD, struct.pack(">H", restart_interval))
        if restart_interval
        else b""
    )
    return (
        b"\xff\xd8"
        + dri
        + seg(0xFFDB, bytes([0x00]) + bytes(quant))
        + seg(0xFFDB, bytes([0x01]) + bytes(quant))
        + seg(
            0xFFC0,
            struct.pack(">BHHB", 8, height, width, 3)
            + bytes([1, (h << 4) | v, 0])   # Y: table 0
            + bytes([2, 0x11, 1])           # Cb: table 1
            + bytes([3, 0x11, 1]),          # Cr: table 1
        )
        + seg(0xFFC4, bytes([0x00]) + JPEG_DC_COUNTS + JPEG_DC_SYMBOLS)
        + seg(
            0xFFC4, bytes([0x10]) + JPEG_PROG_AC_COUNTS + JPEG_PROG_AC_SYMBOLS
        )
        + seg(0xFFC4, bytes([0x01]) + JPEG_DC_COUNTS + JPEG_DC_SYMBOLS)
        + seg(
            0xFFC4, bytes([0x11]) + JPEG_PROG_AC_COUNTS + JPEG_PROG_AC_SYMBOLS
        )
        + seg(
            0xFFDA,
            bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]),
        )
        + scan
        + b"\xff\xd9"
    )


def gif_params(doc_id: int) -> tuple[int, int]:
    """(width, height) for the 4-color gradient GIF fixture.  Pixel
    (x, y) carries palette index (x + y + doc_id) % 4; palette entry i
    is ((40*i + 7*(doc_id % 5)) % 256, (80*i + 11*(doc_id % 3)) % 256,
    (60*i + 13*(doc_id % 7)) % 256) — every decoded channel mean is a
    pure function of doc_id a SQL oracle can restate."""
    return 8 + doc_id % 13, 4 + doc_id % 7


def gif_palette(doc_id: int) -> list[tuple[int, int, int]]:
    return [
        (
            (40 * i + 7 * (doc_id % 5)) % 256,
            (80 * i + 11 * (doc_id % 3)) % 256,
            (60 * i + 13 * (doc_id % 7)) % 256,
        )
        for i in range(4)
    ]


def _lzw_encode(indices: list[int], min_code_size: int) -> bytes:
    """Variable-width LZW per the GIF spec (Appendix F): dictionary
    seeded with the 2^min_code_size roots plus CLEAR/EOI, code width
    grows once code 2^w itself has been assigned (the giflib/Pillow
    rule — the first code that NEEDS w+1 bits is 2^w, which becomes
    emittable only after it is assigned), dictionary resets via CLEAR
    at 4096.  LSB-first bit packing.

    The GIF spec floors the minimum code size at 2 even for 2-color
    images; a size of 1 would mis-pair width growth with the decoder."""
    if min_code_size < 2 or min_code_size > 8:
        raise ValueError(f"GIF LZW min code size must be in [2, 8], got {min_code_size}")
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    acc = nbits = 0
    table = {(i,): i for i in range(clear)}
    next_code = eoi + 1
    width = min_code_size + 1

    def emit(code: int) -> None:
        # giflib pairing: the width check fires after EVERY emitted code
        # (data, flush, CLEAR, EOI alike), keyed to the next free slot
        # at emission time.  The decoder mirrors it per code READ, so
        # e.g. the final prefix flush can push EOI one bit wider even
        # though no table entry is added for it.
        nonlocal acc, nbits, width
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
        if next_code >= (1 << width) and width < 12:
            width += 1

    emit(clear)
    prefix: tuple[int, ...] = ()
    for idx in indices:
        cand = prefix + (idx,)
        if cand in table:
            prefix = cand
            continue
        emit(table[prefix])
        table[cand] = next_code
        next_code += 1
        if next_code == 4096:
            emit(clear)
            table = {(i,): i for i in range(clear)}
            next_code = eoi + 1
            width = min_code_size + 1
        prefix = (idx,)
    if prefix:
        emit(table[prefix])
    emit(eoi)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def make_gif_bytes(doc_id: int) -> bytes:
    """Real GIF89a: logical screen descriptor, 4-entry global color
    table, image descriptor, variable-width LZW-compressed pixel
    indices in 255-byte sub-blocks, trailer."""
    width, height = gif_params(doc_id)
    palette = gif_palette(doc_id)
    indices = [(x + y + doc_id) % 4 for y in range(height) for x in range(width)]
    lzw = _lzw_encode(indices, 2)
    blocks = bytearray()
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        blocks.append(len(chunk))
        blocks += chunk
    blocks.append(0)  # block terminator
    gct = bytes(v for rgb in palette for v in rgb)
    return (
        b"GIF89a"
        + struct.pack("<HH", width, height)
        + bytes([0x81, 0, 0])  # GCT present, 2-bit table; bg 0; no aspect
        + gct
        + b"\x2c" + struct.pack("<HHHH", 0, 0, width, height) + b"\x00"
        + bytes([2])  # LZW minimum code size
        + bytes(blocks)
        + b"\x3b"
    )


def wav_g711_params(doc_id: int) -> tuple[int, int]:
    """(format_tag, n_samples): A-law (6) on odd docs, mu-law (7) on
    even."""
    return (7 if doc_id % 2 == 0 else 6), 200 + doc_id % 100


def make_wav_g711_bytes(doc_id: int) -> bytes:
    """A RIFF/WAVE file carrying G.711 companded audio — format tag
    7 (mu-law) on even docs, 6 (A-law) on odd — 8 bits per sample,
    mono, 8 kHz, code byte j = (doc + 7j) %% 256 (every byte value
    appears across the corpus, so all eight companding segments
    decode)."""
    fmt_tag, n = wav_g711_params(doc_id)
    data = bytes((doc_id + 7 * j) % 256 for j in range(n))
    fmt = struct.pack("<HHIIHH", fmt_tag, 1, 8000, 8000, 1, 8)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
        + (b"\x00" if len(data) % 2 else b"")
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def gif_interlace_params(doc_id: int) -> tuple[int, int]:
    """(width, height) with height > 8 so every interlace pass has
    rows."""
    return 8 + doc_id % 9, 9 + doc_id % 8


def gif_interlace_rows(height: int) -> list[int]:
    """The GIF 4-pass row storage order: pass 1 rows 0,8,16..., pass
    2 rows 4,12..., pass 3 rows 2,6,10..., pass 4 odd rows."""
    order = []
    for start, step in ((0, 8), (4, 8), (2, 4), (1, 2)):
        order.extend(range(start, height, step))
    return order


def make_gif_interlaced_bytes(doc_id: int) -> bytes:
    """Real INTERLACED GIF89a: the image descriptor's interlace flag
    set and the pixel rows stored in the 4-pass order — a decoder
    that ignores the flag reads a row-scrambled image.  Pixel (x, y)
    of the DISPLAY image has palette index (doc + x + 2y) %% 4."""
    width, height = gif_interlace_params(doc_id)
    palette = gif_palette(doc_id)
    rows = gif_interlace_rows(height)
    indices = [
        (doc_id + x + 2 * y) % 4 for y in rows for x in range(width)
    ]
    lzw = _lzw_encode(indices, 2)
    blocks = bytearray()
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        blocks.append(len(chunk))
        blocks += chunk
    blocks.append(0)
    gct = bytes(v for rgb in palette for v in rgb)
    return (
        b"GIF89a"
        + struct.pack("<HH", width, height)
        + bytes([0x81, 0, 0])
        + gct
        + b"\x2c" + struct.pack("<HHHH", 0, 0, width, height)
        + b"\x40"  # interlace flag
        + bytes([2])
        + bytes(blocks)
        + b"\x3b"
    )


def avi_params(doc_id: int) -> tuple[int, int, int, int]:
    """(n_frames, blocks_x, blocks_y, base) for the MJPEG-in-AVI
    fixture.  Every frame shares ``jpeg_params(doc_id)`` geometry (an
    AVI stream has one frame size); frame k's flat level is
    (base + 17*k) % 150, so each decoded frame mean has the closed form
    (base + 17*k) % 150 + (n_blocks - 1) // 2 a SQL oracle can state."""
    blocks_x, blocks_y, base = jpeg_params(doc_id)
    return 2 + doc_id % 3, blocks_x, blocks_y, base


def make_avi_bytes(doc_id: int) -> bytes:
    """Real RIFF/AVI container carrying an MJPEG video stream (the
    OpenDML/VfW layout): ``hdrl`` LIST with the 56-byte ``avih`` main
    header and a ``strl`` LIST (56-byte ``'vids'``/``'MJPG'`` ``strh``
    + 40-byte BITMAPINFOHEADER ``strf``), a ``movi`` LIST with one
    word-aligned ``00dc`` chunk per entropy-coded JPEG frame, and a
    standard ``idx1`` index (AVIIF_KEYFRAME entries, offsets relative
    to the ``movi`` fourcc)."""
    n_frames, bx, by, base = avi_params(doc_id)
    width, height = 8 * bx, 8 * by
    frames = [_jpeg_encode(bx, by, (base + 17 * k) % 150) for k in range(n_frames)]

    def chunk(fourcc: bytes, payload: bytes) -> bytes:
        pad = b"\x00" if len(payload) % 2 else b""
        return fourcc + struct.pack("<I", len(payload)) + payload + pad

    def lst(subtype: bytes, payload: bytes) -> bytes:
        return chunk(b"LIST", subtype + payload)

    max_frame = max(len(f) for f in frames)
    avih = struct.pack(
        "<14I",
        40_000,  # dwMicroSecPerFrame (25 fps)
        max_frame * 25,  # dwMaxBytesPerSec
        0,  # dwPaddingGranularity
        0x10,  # dwFlags: AVIF_HASINDEX
        n_frames,  # dwTotalFrames
        0,  # dwInitialFrames
        1,  # dwStreams
        max_frame,  # dwSuggestedBufferSize
        width,
        height,
        0, 0, 0, 0,  # dwReserved
    )
    strh = (
        b"vids"
        + b"MJPG"
        + struct.pack(
            "<IHHIIIIIIII4h",
            0,  # dwFlags
            0, 0,  # wPriority, wLanguage
            0,  # dwInitialFrames
            1, 25,  # dwScale / dwRate = 25 fps
            0,  # dwStart
            n_frames,  # dwLength (in frames)
            max_frame,  # dwSuggestedBufferSize
            0xFFFFFFFF,  # dwQuality (default)
            0,  # dwSampleSize (0: varying frame sizes)
            0, 0, width, height,  # rcFrame
        )
    )
    strf = struct.pack(
        "<IiiHH4sIiiII",
        40,  # biSize
        width,
        height,
        1,  # biPlanes
        24,  # biBitCount
        b"MJPG",  # biCompression
        max_frame,  # biSizeImage (largest compressed frame)
        0, 0, 0, 0,
    )
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi_payload = bytearray()
    idx_entries = bytearray()
    for f in frames:
        # idx1 offsets point at the ckid, relative to the 'movi' fourcc
        offset = 4 + len(movi_payload)
        movi_payload += chunk(b"00dc", f)
        idx_entries += b"00dc" + struct.pack("<III", 0x10, offset, len(f))
    movi = lst(b"movi", bytes(movi_payload))
    idx1 = chunk(b"idx1", bytes(idx_entries))
    body = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(body)) + body


AVI_AV_SAMPLES_PER_CHUNK = 64
AVI_AV_RATE = 8000


def avi_av_audio_sample(doc_id: int, chunk: int, s: int) -> int:
    """Sample ``s`` of audio chunk ``chunk`` (unsigned 8-bit PCM): a
    closed form in [20, 219] a SQL oracle can restate."""
    return 20 + (doc_id * 3 + 11 * chunk + s) % 200


def make_avi_av_bytes(doc_id: int) -> bytes:
    """Real two-stream RIFF/AVI: the MJPEG video stream of
    ``make_avi_bytes`` PLUS an interleaved unsigned-8-bit mono PCM
    audio stream — the ``hdrl`` carries both ``strl`` LISTs (the
    audio one with an ``'auds'`` ``strh`` and an 18-byte WAVEFORMATEX
    ``strf``), the ``movi`` interleaves one ``01wb`` audio chunk after
    each ``00dc`` frame (the VfW A/V layout), and the ``idx1`` indexes
    both streams in interleave order.  A demuxer that validates every
    ``strf`` against the video codec (the pre-round-7 bug) rejects
    this valid file."""
    n_frames, bx, by, base = avi_params(doc_id)
    width, height = 8 * bx, 8 * by
    frames = [_jpeg_encode(bx, by, (base + 17 * k) % 150) for k in range(n_frames)]
    audio = [
        bytes(
            avi_av_audio_sample(doc_id, k, s)
            for s in range(AVI_AV_SAMPLES_PER_CHUNK)
        )
        for k in range(n_frames)
    ]

    def chunk(fourcc: bytes, payload: bytes) -> bytes:
        pad = b"\x00" if len(payload) % 2 else b""
        return fourcc + struct.pack("<I", len(payload)) + payload + pad

    def lst(subtype: bytes, payload: bytes) -> bytes:
        return chunk(b"LIST", subtype + payload)

    max_frame = max(len(f) for f in frames)
    avih = struct.pack(
        "<14I",
        40_000, max_frame * 25, 0,
        0x10,          # dwFlags: AVIF_HASINDEX
        n_frames,
        0,
        2,             # dwStreams: video + audio
        max_frame, width, height,
        0, 0, 0, 0,
    )
    strh_v = (
        b"vids" + b"MJPG"
        + struct.pack(
            "<IHHIIIIIIII4h",
            0, 0, 0, 0, 1, 25, 0, n_frames, max_frame, 0xFFFFFFFF, 0,
            0, 0, width, height,
        )
    )
    strf_v = struct.pack(
        "<IiiHH4sIiiII",
        40, width, height, 1, 24, b"MJPG", max_frame, 0, 0, 0, 0,
    )
    strh_a = (
        b"auds" + b"\x00\x00\x00\x00"
        + struct.pack(
            "<IHHIIIIIIII4h",
            0, 0, 0, 0,
            1, AVI_AV_RATE,  # dwScale / dwRate: samples per second
            0,
            n_frames * AVI_AV_SAMPLES_PER_CHUNK,  # dwLength in samples
            AVI_AV_SAMPLES_PER_CHUNK,
            0xFFFFFFFF,
            1,  # dwSampleSize: 1 byte per sample (u8 PCM)
            0, 0, 0, 0,
        )
    )
    strf_a = struct.pack(
        "<HHIIHHH",
        1, 1, AVI_AV_RATE, AVI_AV_RATE, 1, 8, 0,  # PCM WAVEFORMATEX
    )
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih)
        + lst(b"strl", chunk(b"strh", strh_v) + chunk(b"strf", strf_v))
        + lst(b"strl", chunk(b"strh", strh_a) + chunk(b"strf", strf_a)),
    )
    movi_payload = bytearray()
    idx_entries = bytearray()
    for f, a in zip(frames, audio):
        offset = 4 + len(movi_payload)
        movi_payload += chunk(b"00dc", f)
        idx_entries += b"00dc" + struct.pack("<III", 0x10, offset, len(f))
        offset = 4 + len(movi_payload)
        movi_payload += chunk(b"01wb", a)
        idx_entries += b"01wb" + struct.pack("<III", 0, offset, len(a))
    movi = lst(b"movi", bytes(movi_payload))
    idx1 = chunk(b"idx1", bytes(idx_entries))
    body = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(body)) + body


# MPEG-1 Layer III bitrate table (kbps), index 1..14 (0=free, 15=bad),
# and the three MPEG-1 sample rates by header sample-rate index.
MP3_BITRATES_KBPS = (
    None, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320,
)
MP3_SAMPLE_RATES = (44100, 48000, 32000)
MP3_SAMPLES_PER_FRAME = 1152  # MPEG-1 Layer III


def mp3_params(doc_id: int) -> tuple[int, int, int]:
    """(n_frames, sample_rate_index, id3_body_len) for the MP3 fixture.
    Frame k's bitrate index is 1 + (doc_id + 3*k) % 14 (a VBR stream —
    walkers that assume the first frame's bitrate for the whole file
    get duration wrong) and its padding bit is (doc_id + k) % 2."""
    return 4 + doc_id % 5, doc_id % 3, (doc_id % 7) * 3


def mp3_main_data_begin(doc_id: int, k: int) -> int:
    """Frame k's side-info main_data_begin (the 9-bit bit-reservoir
    back-pointer, ISO 11172-3 2.4.1.7): a closed form a SQL oracle can
    restate.  Capped at 499 (< the 511 field max) so the side info's
    first byte can never be 0xFF and forge a false syncword."""
    return (doc_id * 7 + 11 * k) % 500


def mp3_granule_fields(doc_id: int, k: int, g: int) -> dict[str, int]:
    """Frame k / granule g's Layer III side-info fields (ISO 11172-3
    2.4.1.7, mono): closed forms a SQL oracle can restate.  big_values
    stays within the spec's 288 ceiling; every field fits its bit
    width."""
    return {
        "part2_3_length": (doc_id * 19 + 13 * k + 7 * g) % 4096,  # 12 bits
        "big_values": (doc_id * 3 + 5 * k + g) % 288,             # 9 bits
        "global_gain": (doc_id + 29 * k + 17 * g) % 256,          # 8 bits
        "scalefac_compress": (doc_id + g) % 16,                   # 4 bits
        # windows_switching_flag = 0 -> the long-block branch:
        "table_select": [
            (doc_id + 3 * k + g + t) % 32 for t in range(3)       # 5 bits x3
        ],
        "region0_count": doc_id % 16,                             # 4 bits
        "region1_count": (doc_id + k) % 8,                        # 3 bits
        "preflag": doc_id % 2,                                    # 1 bit
        "scalefac_scale": k % 2,                                  # 1 bit
        "count1table_select": (doc_id + k + g) % 2,               # 1 bit
    }


def mp3_side_info(doc_id: int, k: int) -> bytes:
    """The REAL 17-byte mono side info for frame k (ISO 11172-3
    2.4.1.7): main_data_begin(9) + private_bits(5) + scfsi(4), then per
    granule part2_3_length(12) big_values(9) global_gain(8)
    scalefac_compress(4) windows_switching_flag(1) [long-block branch:
    table_select(5)x3 region0_count(4) region1_count(3)] preflag(1)
    scalefac_scale(1) count1table_select(1) — 18 + 2x59 = 136 bits,
    exactly 17 bytes, no padding."""
    w = MsbWriter()
    w.u(mp3_main_data_begin(doc_id, k), 9)
    w.u(0, 5)  # private_bits
    w.u(0, 4)  # scfsi (no scalefactor reuse)
    for g in (0, 1):
        f = mp3_granule_fields(doc_id, k, g)
        w.u(f["part2_3_length"], 12)
        w.u(f["big_values"], 9)
        w.u(f["global_gain"], 8)
        w.u(f["scalefac_compress"], 4)
        w.u(0, 1)  # windows_switching_flag: long blocks
        for t in f["table_select"]:
            w.u(t, 5)
        w.u(f["region0_count"], 4)
        w.u(f["region1_count"], 3)
        w.u(f["preflag"], 1)
        w.u(f["scalefac_scale"], 1)
        w.u(f["count1table_select"], 1)
    out = w.to_bytes()
    assert len(out) == 17
    return out


def make_mp3_bytes(doc_id: int) -> bytes:
    """Spec-shaped MPEG-1 Layer III stream: an ID3v2.3 tag (syncsafe
    size, must be skipped), then back-to-back frames whose 4-byte
    headers carry real sync/version/layer/bitrate/samplerate/padding
    fields and whose lengths follow the Layer III formula
    ``144 * bitrate / sample_rate + padding`` — a walker can only find
    frame k+1 by decoding frame k's header.  Each frame's payload
    begins with the REAL 17-byte mono side info (no CRC) — every field
    bit-packed per ISO 11172-3 2.4.1.7 (``mp3_side_info``), so the
    packed bytes can contain 0xFF exactly like a real encode: a walker
    that rescans for sync instead of stepping by frame length breaks
    here, ours must not.  Filler bytes after the side info keep the
    high bit clear."""
    n_frames, sr_idx, id3_len = mp3_params(doc_id)
    sr = MP3_SAMPLE_RATES[sr_idx]
    out = bytearray()
    # ID3v2.3 header: "ID3", version 3.0, no flags, syncsafe body size
    out += b"ID3" + bytes((3, 0, 0))
    out += bytes(
        ((id3_len >> 21) & 0x7F, (id3_len >> 14) & 0x7F,
         (id3_len >> 7) & 0x7F, id3_len & 0x7F)
    )
    out += b"\x20" * id3_len
    from .decode import mp3_crc16

    for k in range(n_frames):
        br_idx = 1 + (doc_id + 3 * k) % 14
        padding = (doc_id + k) % 2
        protected = (doc_id + k) % 3 == 1  # protection_absent 0
        kbps = MP3_BITRATES_KBPS[br_idx]
        frame_len = (144 * kbps * 1000) // sr + padding
        h0 = 0xFF
        # sync cont. + MPEG-1 (11) + Layer III (01) + protection bit
        h1 = 0b11111010 | (0 if protected else 1)
        h2 = (br_idx << 4) | (sr_idx << 2) | (padding << 1)
        h3 = 0b11000100  # mono + no mode ext + not copyrighted + original
        out += bytes((h0, h1, h2, h3))
        si = mp3_side_info(doc_id, k)
        crc_len = 0
        if protected:
            crc = mp3_crc16(bytes((h2, h3)) + si)
            out += bytes((crc >> 8, crc & 0xFF))
            crc_len = 2
        out += si
        out += bytes([(doc_id + k) % 128]) * (frame_len - 4 - crc_len - 17)
    return bytes(out)


def h264_params(doc_id: int) -> tuple[int, int, int, int, int, int]:
    """(n_gops, gop_len, epb_pairs, filler_len, sps_len, pps_len) for
    the H.264 Annex-B fixture.  Each GOP is one IDR slice followed by
    gop_len-1 non-IDR slices; every slice RBSP embeds epb_pairs
    two-zero runs that the encoder must escape with emulation-
    prevention bytes (and the parser must strip).  sps_len is the
    length of the REAL exp-Golomb-coded SPS (``h264_sps_rbsp``) — a
    pure function of doc_id, 6 or 7 bytes depending on the ue() widths
    of the picture dimensions."""
    return (
        1 + doc_id % 3,      # n_gops
        2 + doc_id % 4,      # gop_len (frames per GOP)
        doc_id % 5,          # epb_pairs per slice
        16 + doc_id % 8,     # slice filler bytes
        len(h264_sps_rbsp(doc_id)),  # SPS RBSP length (real encode)
        len(h264_pps_rbsp(doc_id)),  # PPS RBSP length (real encode)
    )


def h264_sps_fields(doc_id: int) -> tuple[int, int, int, int]:
    """(profile_idc, level_idc, pic_width_in_mbs_minus1,
    pic_height_in_map_units_minus1) for the fixture SPS — closed forms
    a SQL oracle can restate.  Profiles cycle baseline/main/extended
    (66/77/88 — all below the High tier, so the chroma-format branch of
    7.3.2.1.1 is not entered by the ENCODER; the parser still
    implements it)."""
    return (
        66 + (doc_id % 3) * 11,   # profile_idc: 66 / 77 / 88
        10 + (doc_id % 5) * 10,   # level_idc: 10..50 (level 1.0 .. 5.0)
        1 + doc_id % 9,           # width = 16 * (2 + doc_id % 9)
        1 + doc_id % 7,           # height = 16 * (2 + doc_id % 7)
    )


def h264_sps_rbsp(doc_id: int) -> bytes:
    """REAL seq_parameter_set RBSP per ITU-T H.264 7.3.2.1.1: fixed
    profile/constraint/level bytes, then exp-Golomb-coded ids, frame
    numbering, POC type 2 (no extra fields), reference count, and the
    picture dimensions in macroblock units; frame_mbs_only_flag=1 (no
    field coding), no cropping, no VUI, proper rbsp_trailing_bits."""
    return _h264_sps_from_fields(*h264_sps_fields(doc_id))


def _h264_sps_from_fields(
    profile_idc: int, level_idc: int, w_m1: int, h_m1: int,
    max_ref: int = 1, poc_type: int = 2,
) -> bytes:
    w = MsbWriter()
    w.u(profile_idc, 8)
    w.u(0, 8)  # constraint_set0..5 + reserved_zero_2bits
    w.u(level_idc, 8)
    w.ue(0)    # seq_parameter_set_id
    w.ue(0)    # log2_max_frame_num_minus4
    w.ue(poc_type)  # pic_order_cnt_type
    if poc_type == 0:
        w.ue(0)  # log2_max_pic_order_cnt_lsb_minus4 -> 4-bit lsb
    w.ue(max_ref)  # max_num_ref_frames
    w.u(0, 1)  # gaps_in_frame_num_value_allowed_flag
    w.ue(w_m1)  # pic_width_in_mbs_minus1
    w.ue(h_m1)  # pic_height_in_map_units_minus1
    w.u(1, 1)  # frame_mbs_only_flag
    w.u(1, 1)  # direct_8x8_inference_flag
    w.u(0, 1)  # frame_cropping_flag
    w.u(0, 1)  # vui_parameters_present_flag
    return w.rbsp_trailing()


def h264_pic_init_qp(doc_id: int) -> int:
    """The fixture PPS's pic_init_qp: a closed form in [20, 35] (the
    spec range is [0, 51]) so its signed-exp-Golomb width varies with
    doc_id."""
    return 20 + doc_id % 16


def h264_pps_rbsp(doc_id: int) -> bytes:
    """REAL pic_parameter_set RBSP per ITU-T H.264 7.3.2.2: CAVLC
    entropy coding, one slice group, default reference counts, no
    weighted prediction, a doc_id-varying pic_init_qp (signed
    exp-Golomb), and proper rbsp_trailing_bits."""
    w = MsbWriter()
    w.ue(0)    # pic_parameter_set_id
    w.ue(0)    # seq_parameter_set_id
    w.u(0, 1)  # entropy_coding_mode_flag: CAVLC
    w.u(0, 1)  # bottom_field_pic_order_in_frame_present_flag
    w.ue(0)    # num_slice_groups_minus1
    w.ue(0)    # num_ref_idx_l0_default_active_minus1
    w.ue(0)    # num_ref_idx_l1_default_active_minus1
    w.u(0, 1)  # weighted_pred_flag
    w.u(0, 2)  # weighted_bipred_idc
    w.se(h264_pic_init_qp(doc_id) - 26)  # pic_init_qp_minus26
    w.se(0)    # pic_init_qs_minus26
    w.se(0)    # chroma_qp_index_offset
    w.u(0, 1)  # deblocking_filter_control_present_flag
    w.u(0, 1)  # constrained_intra_pred_flag
    w.u(0, 1)  # redundant_pic_cnt_present_flag
    return w.rbsp_trailing()


def h264_slice_header_bytes(gop: int, slice_in_gop: int) -> bytes:
    """The parseable slice-header prefix (ITU-T H.264 7.3.3):
    first_mb_in_slice=0, slice_type (7=I for the IDR slice, 5=P
    otherwise), pic_parameter_set_id=0, frame_num u(4) = the slice's
    position in its GOP, and idr_pic_id = the GOP index on IDR slices —
    bit-packed and zero-padded to 2 bytes.  The padding byte-aligns the
    synthetic slice body that stands in for the remaining header +
    entropy-coded macroblock data (a real stream continues bit-level;
    the walker only parses this prefix)."""
    w = MsbWriter()
    w.ue(0)  # first_mb_in_slice
    idr = slice_in_gop == 0
    w.ue(7 if idr else 5)  # slice_type: I (all-slices-I) / P (all-P)
    w.ue(0)  # pic_parameter_set_id
    w.u(slice_in_gop, 4)  # frame_num (log2_max_frame_num_minus4 = 0)
    if idr:
        w.ue(gop)  # idr_pic_id
    w.align()
    out = w.to_bytes()
    assert len(out) == 2 and out[-1] != 0  # no 00-byte at the EPB boundary
    return out


def _h264_escape(rbsp: bytes) -> bytes:
    """Insert emulation-prevention bytes: any 00 00 followed by a byte
    <= 03 becomes 00 00 03 xx (ITU-T H.264 7.4.1.1).

    Scans with ``bytes.find`` for two-zero runs instead of a per-byte
    Python loop (the escape can only fire after 00 00); resuming the
    scan AT the escaped byte reproduces the per-byte zero-run counter
    exactly, including 3+-zero runs and runs split by an insertion."""
    find = rbsp.find
    j = find(b"\x00\x00")
    if j < 0:
        return rbsp
    n = len(rbsp)
    out = bytearray()
    i = 0  # emitted up to (not including) i
    while j >= 0:
        if j + 2 >= n:
            break  # trailing 00 00 at EOF: nothing follows, no escape
        if rbsp[j + 2] <= 3:
            out += rbsp[i : j + 2]
            out.append(3)
            i = j + 2  # the zero-run counter restarts at this byte
            j = find(b"\x00\x00", i)
        else:
            j = find(b"\x00\x00", j + 1)
    out += rbsp[i:]
    return bytes(out)


def _h264_nal(ref_idc: int, nal_type: int, rbsp: bytes, index: int) -> bytes:
    """One Annex-B NAL unit: alternating 4-/3-byte start codes, the
    1-byte NAL header, and the 7.4.1.1-escaped RBSP."""
    start = b"\x00\x00\x00\x01" if index % 2 == 0 else b"\x00\x00\x01"
    header = bytes(((ref_idc << 5) | nal_type,))
    return start + header + _h264_escape(rbsp)


def make_h264_bytes(doc_id: int) -> bytes:
    """Spec-shaped H.264 Annex-B byte stream: REAL exp-Golomb SPS and
    PPS NAL units (``h264_sps_rbsp`` / ``h264_pps_rbsp``), then n_gops
    GOPs of one IDR + (gop_len-1) non-IDR slice NALs, each slice
    opening with a REAL parseable header prefix
    (``h264_slice_header_bytes``) before its synthetic body.  The first
    start code is 4-byte (00 00 00 01), later ones alternate with the
    3-byte form — parsers keying on one form only miss NALs.  Slice
    bodies embed two-zero runs escaped per 7.4.1.1, so byte-exact RBSP
    recovery requires stripping emulation-prevention bytes."""
    n_gops, gop_len, epb_pairs, filler_len, sps_len, pps_len = h264_params(doc_id)

    nal = _h264_nal
    slice_body = b"\x00\x00\x02\x55" * epb_pairs + bytes(
        0x41 + (i % 32) for i in range(filler_len)
    )
    units: list[bytes] = []
    sps = h264_sps_rbsp(doc_id)
    assert len(sps) == sps_len
    units.append(nal(3, 7, sps, 0))
    pps = h264_pps_rbsp(doc_id)
    assert len(pps) == pps_len
    units.append(nal(3, 8, pps, 1))
    idx = 2
    for g in range(n_gops):
        for s in range(gop_len):
            rbsp = h264_slice_header_bytes(g, s) + slice_body
            if s == 0:
                units.append(nal(3, 5, rbsp, idx))  # IDR
            else:
                units.append(nal(2, 1, rbsp, idx))  # non-IDR
            idx += 1
    return b"".join(units)


def h264_ipcm_params(doc_id: int) -> tuple[int, int, int]:
    """(n_frames, mb_w, mb_h) for the all-I_PCM fixture stream: tiny
    pictures (1-2 macroblocks per side) so 500 docs of raw 4:2:0
    samples stay small."""
    return 1 + doc_id % 3, 1 + doc_id % 2, 1 + (doc_id // 2) % 2


def h264_ipcm_luma(doc_id: int, frame: int, mb: int) -> int:
    """Macroblock ``mb`` of frame ``frame``'s (flat) luma sample value:
    a closed form in [10, 209] a SQL oracle can restate (every sample
    of an MB is equal, so the MB's mean luma IS this value — but the
    decoder must still read and average all 256 samples to know it)."""
    return 10 + (doc_id * 13 + 31 * frame + 7 * mb) % 200


def make_h264_ipcm_bytes(doc_id: int) -> bytes:
    """REAL all-I_PCM H.264 Annex-B stream — the one slice-data path
    that bypasses entropy coding entirely (ITU-T H.264 7.3.5 macroblock
    layer: ``mb_type`` 25 = I_PCM, ``pcm_alignment_zero_bit`` padding to
    a byte boundary, then 256 raw luma + 2x64 raw 4:2:0 chroma samples
    per macroblock), so a decoder without CAVLC/CABAC tables can
    recover exact pixels.  Every frame is a single-slice IDR (I slices
    only, frame_num 0, idr_pic_id = frame index); the slice header and
    macroblock loop share one continuous bit stream, exactly as the
    spec writes them — no artificial byte alignment between header and
    data."""
    n_frames, mb_w, mb_h = h264_ipcm_params(doc_id)
    units = [
        _h264_nal(3, 7, _h264_sps_from_fields(66, 10, mb_w - 1, mb_h - 1), 0),
        _h264_nal(3, 8, h264_pps_rbsp(doc_id), 1),
    ]
    for f in range(n_frames):
        units.append(
            _h264_nal(3, 5, h264_ipcm_idr_rbsp(doc_id, f, f, mb_w * mb_h), 2 + f)
        )
    return b"".join(units)


def h264_ipcm_idr_rbsp(
    doc_id: int, frame: int, idr_pic_id: int, n_mbs: int,
    first_mb: int = 0, mb_count: int | None = None,
) -> bytes:
    """One COMPLETE all-I_PCM IDR slice RBSP (ITU-T H.264 7.3.3 +
    7.3.5): the full header for this SPS/PPS shape — first_mb_in_slice,
    slice_type 7, pps id, frame_num (IDR -> 0), idr_pic_id, the IDR
    dec_ref_pic_marking pair (no_output_of_prior_pics_flag,
    long_term_reference_flag) and slice_qp_delta — then the macroblock
    loop: mb_type 25 (I_PCM), pcm_alignment_zero_bits, 256 raw luma +
    2x64 raw 4:2:0 chroma samples per MB, closed by
    rbsp_trailing_bits.  ``first_mb``/``mb_count`` carve one SLICE of
    the picture (multi-slice IDRs: several NAL units share frame_num 0
    and idr_pic_id, each starting at its first_mb_in_slice)."""
    if mb_count is None:
        mb_count = n_mbs - first_mb
    w = MsbWriter()
    w.ue(first_mb)  # first_mb_in_slice
    w.ue(7)        # slice_type: I (all slices in stream are I)
    w.ue(0)        # pic_parameter_set_id
    w.u(0, 4)      # frame_num (IDR -> 0)
    w.ue(idr_pic_id)
    w.u(0, 1)      # dec_ref_pic_marking: no_output_of_prior_pics_flag
    w.u(0, 1)      # dec_ref_pic_marking: long_term_reference_flag
    w.se(0)        # slice_qp_delta
    w.ue(25)       # first macroblock's mb_type: I_PCM
    w.align()  # pcm_alignment_zero_bit
    parts = [w.to_bytes()]
    for m in range(first_mb, first_mb + mb_count):
        if m != first_mb:
            # PCM samples end byte-aligned, so every later MB's
            # prefix is the same two bytes: ue(25) = 000011010,
            # then 7 pcm_alignment_zero_bits -> 0x0D 0x00
            parts.append(b"\x0d\x00")
        luma = h264_ipcm_luma(doc_id, frame, m)
        parts.append(bytes([luma]) * 256 + bytes([128]) * 128)
    # rbsp_trailing_bits at a byte boundary: stop bit + 7 zeros
    parts.append(b"\x80")
    return b"".join(parts)


def h264_cavlc_params(doc_id: int) -> tuple[int, int, int]:
    """(n_frames, mb_w, mb_h) for the CAVLC-residual fixture."""
    return 1 + doc_id % 3, 1 + doc_id % 2, 1 + (doc_id // 2) % 2


def h264_cavlc_levels(doc_id: int, f: int, b: int, a: int) -> list[int]:
    """Block ``a``'s coefficient levels in DECODE order (highest scan
    position first) for macroblock ``b`` of frame ``f`` — a = 16 is
    the Intra16x16 DC block (16 levels), a = 0..15 the AC blocks.
    Shape selector s = (doc+f+b+a) % 5 for AC blocks: s = 0 gives a
    SINGLE-COEFFICIENT block (TotalCoeff 1 — total_zeros column 1,
    no run_before); s = 1 gives a PARTIAL block with TotalCoeff
    2 + (doc+f+b+a) % 13 (2..14 — total_zeros columns 2-14 AND the
    run_before walk genuinely coded); anything else (and every DC
    block) is FULL (TotalCoeff = maxNumCoeff — total_zeros and
    run_before inferred, 9.2.3).  The first min((doc+f+b+a) % 4, n)
    levels are trailing ±1s, the rest have magnitude 2-4, all signed
    by (doc+f+b+a+i) parity."""
    sel = (doc_id + f + b + a) % 5
    if a < 16 and sel == 0:
        mag = 1 + (doc_id + f + b + a) % 4
        return [mag if (doc_id + f + b + a) % 2 == 0 else -mag]
    if a < 16 and sel == 1:
        n = 2 + (doc_id + f + b + a) % 13
    else:
        n = 16 if a == 16 else 15
    t = min((doc_id + f + b + a) % 4, n)
    out = []
    for i in range(n):
        mag = 1 if i < t else 2 + (doc_id + f + b + a + i) % 3
        out.append(mag if (doc_id + f + b + a + i) % 2 == 0 else -mag)
    return out


def h264_cavlc_total_zeros(doc_id: int, f: int, b: int, a: int) -> int:
    """totalZeros for a partial AC block with TotalCoeff = tc:
    0..15 - tc (<= maxNumCoeff - tc for the 15-coefficient AC
    block)."""
    tc = len(h264_cavlc_levels(doc_id, f, b, a))
    return (doc_id + f + b + 2 * a) % (16 - tc)


def h264_cavlc_cbp_chroma(doc_id: int, f: int, b: int) -> int:
    """CodedBlockPatternChroma for macroblock b of frame f: cycles
    0 (no chroma residual), 1 (DC only), 2 (DC + AC) — mb_type
    15/19/23 under Table 7-11's I_16x16 mapping."""
    return (doc_id + f + b) % 3


def h264_cavlc_chroma_levels(
    doc_id: int, f: int, b: int, comp: int, blk: int
) -> list[int]:
    """Chroma block levels in decode order: blk 4 is the 2x2 DC block
    (TotalCoeff 1 + k % 4 of maxNumCoeff 4, exercising every Table
    9-9(a) column and the full nC = -1 coeff_token range), blk 0..3
    the AC blocks (single / partial / full like luma, but through the
    GENERAL level formula).  a = 17 + 5*comp + blk keys the closed
    forms."""
    a = 17 + 5 * comp + blk
    k = doc_id + f + b + a
    if blk == 4:
        n = 1 + k % 4
    else:
        sel = k % 5
        n = 1 if sel == 0 else (2 + k % 13 if sel == 1 else 15)
    t = min(k % 4, n)
    out = []
    for i in range(n):
        mag = 1 if i < t else 2 + (k + i) % 3
        out.append(mag if (k + i) % 2 == 0 else -mag)
    return out


def h264_cavlc_chroma_tz(
    doc_id: int, f: int, b: int, comp: int, blk: int
) -> int:
    """totalZeros for a partial chroma block: bounded by its
    maxNumCoeff (4 for the DC block, 15 for AC)."""
    maxn = 4 if blk == 4 else 15
    tc = len(h264_cavlc_chroma_levels(doc_id, f, b, comp, blk))
    return (doc_id + f + b + 2 * blk + 3 * comp) % (maxn - tc + 1)


def h264_cavlc_runs(
    doc_id: int, f: int, b: int, a: int, tc: int, tz: int
) -> list[int]:
    """run_before values for coefficients 0..tc-2 (the last
    coefficient takes whatever zeros remain): run i is
    min(zerosLeft, (doc+f+b+a+i) % 4), so runs shrink as zeros are
    consumed and hit the zerosLeft = 0 not-coded case on real
    fixtures."""
    runs = []
    zeros_left = tz
    for i in range(tc - 1):
        r = min(zeros_left, (doc_id + f + b + a + i) % 4)
        runs.append(r)
        zeros_left -= r
    return runs


def _cavlc_write_block(
    w: MsbWriter, levels: list[int], n_c: int,
    enc: "dict", total_zeros: int | None = None,
    runs: list[int] | None = None,
) -> None:
    """residual_block_cavlc encode (ITU-T H.264 9.2): coeff_token
    through the nC-selected code (the Table 9-5 VLC column for
    nC < 8, the 6-bit FLC above), TrailingOnes sign bits, the
    suffix-length-adaptive level codes, and — for partial blocks —
    the per-TotalCoeff total_zeros column code plus the run_before
    fields (coded only while zerosLeft > 0, mirroring the decoder's
    9.2.3 accounting).  ``enc`` (``_cavlc_encoders``) maps "ct" to
    the inverted coeff_token columns by nC + 1, "tz" and "tzc" to the
    TotalCoeff-indexed total_zeros encoders, "rb" to the run_before
    encoders by zerosLeft and "lv" to the level encoders by [first
    non-TrailingOnes level][suffixLength].  The block's fields
    accumulate in one integer (``acc``, ``n`` bits) that goes to ``w``
    in one write."""
    total = len(levels)
    t1 = signs = 0
    for v in levels[:3]:
        if v != 1 and v != -1:
            break
        t1 += 1
        signs = (signs << 1) | (v < 0)
    if n_c >= 8:  # FLC: 4 bits TotalCoeff-1, 2 bits TrailingOnes
        acc = 0b000011 if total == 0 else ((total - 1) << 2) | t1
        n = 6
    else:
        n, acc = enc["ct"][n_c + 1][(total, t1)]
    acc = (acc << t1) | signs
    n += t1
    suffix_len = 1 if total > 10 and t1 < 3 else 0
    first = 1 if t1 < 3 else 0  # the first non-T1 level skips +-1
    level_codes = enc["lv"]
    for v in levels[t1:]:
        e = level_codes[first][suffix_len].get(v)
        if e is None:  # pragma: no cover - fixtures never escape
            raise ValueError("level escape codes not exercised")
        length, code, suffix_len = e
        acc = (acc << length) | code
        n += length
        first = 0
    if total_zeros is not None:
        length, code = enc["tzc" if n_c < 0 else "tz"][total][total_zeros]
        acc = (acc << length) | code
        n += length
        zeros_left = total_zeros
        for r in runs or []:
            if zeros_left <= 0:
                break
            length, code = enc["rb"][zeros_left][r]
            acc = (acc << length) | code
            n += length
            zeros_left -= r
    w.u(acc, n)


def _nc_neighbour_table(side: int) -> tuple[tuple[int, int, int, int], ...]:
    """Per block of a macroblock's side x side grid, in z-scan order
    (6.4.3; raster for the 2x2 chroma grid): (left_in, left_out,
    top_in, top_out) — the index of neighbour A (left) / B (top) in the
    same macroblock, -1 when it lies in the adjacent one, and its
    index in that adjacent macroblock."""

    def zidx(zx: int, zy: int) -> int:
        return ((zy & 2) << 2) | ((zx & 2) << 1) | ((zy & 1) << 1) | (zx & 1)

    table = []
    for blk in range(side * side):
        zx = ((blk >> 2) & 1) * 2 + (blk & 1)
        zy = ((blk >> 3) & 1) * 2 + ((blk >> 1) & 1)
        table.append((
            zidx(zx - 1, zy) if zx else -1, zidx(side - 1, zy),
            zidx(zx, zy - 1) if zy else -1, zidx(zx, side - 1),
        ))
    return tuple(table)


_NC_NEIGHBOURS = {side: _nc_neighbour_table(side) for side in (2, 4)}


def h264_nc(counts: list[int], mb_w: int, m: int, blk: int, side: int) -> int:
    """CAVLC nC (9.2.1) of block ``blk`` (z-scan order) of macroblock
    ``m``'s side x side grid (4: luma, 2: one chroma component's AC).
    ``counts`` holds the nonzero counts of the grid's blocks decoded so
    far, block ``blk`` of macroblock ``m`` at ``m * side * side + blk``.
    nC is the rounded mean of the left (A) and top (B) neighbours'
    counts when both are available, else the available one's, else 0;
    a neighbour outside the picture is unavailable.  The encoder and
    the decoder both derive nC here."""
    n = side * side
    base = m * n
    left_in, left_out, top_in, top_out = _NC_NEIGHBOURS[side][blk]
    if left_in >= 0:
        n_a = counts[base + left_in]
    elif m % mb_w:
        n_a = counts[base - n + left_out]
    else:
        n_a = None
    if top_in >= 0:
        n_b = counts[base + top_in]
    elif m >= mb_w:
        n_b = counts[base - mb_w * n + top_out]
    else:
        n_b = None
    if n_a is None:
        return 0 if n_b is None else n_b
    if n_b is None:
        return n_a
    return (n_a + n_b + 1) >> 1


def h264_cavlc_idr_rbsp(
    doc_id: int, f: int, n_mbs: int, mb_w: int, enc: dict,
) -> bytes:
    """One all-I_16x16 IDR slice RBSP with REAL CAVLC residuals: per
    macroblock mb_type 15 (Intra_16x16, DC prediction,
    CodedBlockPatternLuma 15 / Chroma 0), intra_chroma_pred_mode,
    mb_qp_delta, then the Intra16x16DCLevel block and all 16
    Intra16x16ACLevel blocks through ``_cavlc_write_block`` — with the
    per-4x4 nzc neighbor bookkeeping that drives each block's nC
    exactly as the decoder re-derives it."""
    w = MsbWriter()
    w.ue(0)        # first_mb_in_slice
    w.ue(7)        # slice_type: I
    w.ue(0)        # pic_parameter_set_id
    w.u(0, 4)      # frame_num
    w.ue(f)        # idr_pic_id
    w.u(0, 1)
    w.u(0, 1)
    w.se(0)        # slice_qp_delta
    # per-picture nonzero counts — the EXACT mirror of the decoder's
    # neighbor bookkeeping (decode.decode_h264_cavlc): AC counts span
    # 1..15, so the re-derived nC sweeps every Table 9-5 column
    # (nC < 2, 2-4, 4-8) plus the nC >= 8 FLC
    nzc: list[int] = []
    cnzc: tuple[list[int], list[int]] = ([], [])  # per chroma component

    for m in range(n_mbs):
        cbp_c = h264_cavlc_cbp_chroma(doc_id, f, m)
        w.ue(15 + 4 * cbp_c)  # I_16x16, pred DC, cbp luma 15
        w.ue(0)    # intra_chroma_pred_mode: DC
        w.se(0)    # mb_qp_delta
        _cavlc_write_block(
            w, h264_cavlc_levels(doc_id, f, m, 16),
            h264_nc(nzc, mb_w, m, 0, 4), enc,
        )
        for blk in range(16):
            levels = h264_cavlc_levels(doc_id, f, m, blk)
            if len(levels) < 15:  # partial: total_zeros (+ runs) coded
                tz = h264_cavlc_total_zeros(doc_id, f, m, blk)
                runs = h264_cavlc_runs(
                    doc_id, f, m, blk, len(levels), tz
                )
            else:
                tz, runs = None, None
            _cavlc_write_block(
                w, levels, h264_nc(nzc, mb_w, m, blk, 4), enc, tz, runs
            )
            nzc.append(len(levels))
        if cbp_c:
            for comp in range(2):
                cdc = h264_cavlc_chroma_levels(doc_id, f, m, comp, 4)
                if len(cdc) < 4:
                    tz = h264_cavlc_chroma_tz(doc_id, f, m, comp, 4)
                    runs = h264_cavlc_runs(
                        doc_id, f, m, 17 + 5 * comp + 4, len(cdc), tz
                    )
                else:
                    tz, runs = None, None
                _cavlc_write_block(w, cdc, -1, enc, tz, runs)
        if cbp_c != 2:  # no chroma AC: its counts are 0
            for counts in cnzc:
                counts.extend((0, 0, 0, 0))
            continue
        for comp in range(2):
            for blk in range(4):
                cac = h264_cavlc_chroma_levels(doc_id, f, m, comp, blk)
                if len(cac) < 15:
                    tz = h264_cavlc_chroma_tz(doc_id, f, m, comp, blk)
                    runs = h264_cavlc_runs(
                        doc_id, f, m, 17 + 5 * comp + blk, len(cac), tz,
                    )
                else:
                    tz, runs = None, None
                _cavlc_write_block(
                    w, cac, h264_nc(cnzc[comp], mb_w, m, blk, 2), enc,
                    tz, runs,
                )
                cnzc[comp].append(len(cac))
    w.u(1, 1)  # rbsp_stop_one_bit
    w.align()
    return w.to_bytes()


_CAVLC_ENC: dict | None = None


def _cavlc_encoders() -> dict:
    """The ``enc`` map of ``_cavlc_write_block``: the decoder's
    validated CAVLC tables inverted to value -> (length, code), so the
    spec data has one source of truth in the repo.  Built once per
    process."""
    global _CAVLC_ENC
    if _CAVLC_ENC is None:
        from .decode import (
            H264_COEFF_TOKEN_CHROMA_DC,
            H264_COEFF_TOKEN_NC0,
            H264_COEFF_TOKEN_NC2,
            H264_COEFF_TOKEN_NC4,
            H264_RUN_BEFORE,
            H264_TOTAL_ZEROS,
            H264_TOTAL_ZEROS_CHROMA_DC,
            _cavlc_level_codes,
        )

        def inverted(table: dict) -> dict:
            return {val: lc for lc, val in table.items()}

        nc0, nc2, nc4 = (
            inverted(t) for t in (
                H264_COEFF_TOKEN_NC0, H264_COEFF_TOKEN_NC2,
                H264_COEFF_TOKEN_NC4,
            )
        )
        rb = {zl: inverted(col) for zl, col in H264_RUN_BEFORE.items()}
        levels: list = [[None] * 7, [None] * 7]
        for (first, suffix_len), rows in _cavlc_level_codes().items():
            levels[first][suffix_len] = {
                level: (ln, code, nxt) for level, ln, code, nxt in rows
            }
        _CAVLC_ENC = {
            "ct": [inverted(H264_COEFF_TOKEN_CHROMA_DC),
                   nc0, nc0, nc2, nc2, nc4, nc4, nc4, nc4],
            "tz": {
                tc: inverted(col) for tc, col in H264_TOTAL_ZEROS.items()
            },
            "tzc": {
                tc: inverted(col)
                for tc, col in H264_TOTAL_ZEROS_CHROMA_DC.items()
            },
            "rb": [None] + [rb[min(zl, 7)] for zl in range(1, 16)],
            "lv": levels,
        }
    return _CAVLC_ENC


def make_h264_cavlc_bytes(doc_id: int) -> bytes:
    """REAL CAVLC-entropy H.264 Annex-B stream: every frame a
    single-slice IDR of Intra_16x16 macroblocks whose residuals are
    context-adaptive variable-length coded (ITU-T H.264 9.2) — the
    entropy layer the I_PCM and inter fixtures bypass.  Encoder
    tables are inverted from the decoder's validated transcriptions
    (``_cavlc_encoders``)."""
    enc = _cavlc_encoders()
    n_frames, mb_w, mb_h = h264_cavlc_params(doc_id)
    units = [
        _h264_nal(3, 7, _h264_sps_from_fields(66, 10, mb_w - 1, mb_h - 1), 0),
        _h264_nal(3, 8, h264_pps_rbsp(doc_id), 1),
    ]
    for f in range(n_frames):
        units.append(
            _h264_nal(
                3, 5,
                h264_cavlc_idr_rbsp(
                    doc_id, f, mb_w * mb_h, mb_w, enc
                ),
                2 + f,
            )
        )
    return b"".join(units)


def h264_multiref_w(doc_id: int, i: int) -> int:
    """Flat luma of the multi-reference fixture's i-th P1 refresh."""
    return 12 + (doc_id * 17 + 29 * i) % 180


def make_h264_multiref_bytes(doc_id: int) -> bytes:
    """H.264 Annex-B stream exercising MULTIPLE REFERENCE PICTURES
    and ref_pic_list_modification (ITU-T H.264 7.3.3.1 + 8.2.4.3):
    SPS max_num_ref_frames 2, and four pictures —

    - IDR: the affine I_PCM plane L(r,c) = B + 5r + 3c.
    - P1: I_PCM refreshes at macroblocks 0 and 1 (values W0/W1), the
      rest P_Skip — so the two newest references genuinely DIFFER at
      two known macroblocks.
    - P2: num_ref_idx_active_override to TWO references; every
      macroblock is a zero-MV P_L0_16x16 whose te(v) ref_idx_l0
      cycles (doc+idx) % 2 — picking between P1 (ref 0) and the IDR
      (ref 1), observable exactly at the refreshed macroblocks.
    - P3: the same two-reference setup PLUS a ref_pic_list_
      modification (idc 0, abs_diff_pic_num_minus1 1) that moves
      PicNum 1 (P1) to the FRONT of the list, with the ref pattern
      inverted — a decoder that ignores the modification reconstructs
      P2's sums instead of P1's and the value oracle catches it.

    All MVs are zero so the reference CHOICE is the entire signal."""
    mb_w, mb_h, _ca = h264_inter_params(doc_id)
    n_mbs = mb_w * mb_h
    base = h264_inter_base(doc_id)
    units = [
        _h264_nal(
            3, 7,
            _h264_sps_from_fields(66, 10, mb_w - 1, mb_h - 1, max_ref=2),
            0,
        ),
        _h264_nal(3, 8, h264_pps_rbsp(doc_id), 1),
    ]
    lumas = [base + 5 * r + 3 * c for r in range(mb_h) for c in range(mb_w)]
    units.append(_h264_nal(3, 5, _h264_idr_values_rbsp(0, lumas), 2))

    def p_header(
        frame_num: int, n_refs: int, modify: bool
    ) -> MsbWriter:
        w = MsbWriter()
        w.ue(0)                 # first_mb_in_slice
        w.ue(5)                 # slice_type: P
        w.ue(0)                 # pic_parameter_set_id
        w.u(frame_num % 16, 4)  # frame_num
        if n_refs == 1:
            w.u(0, 1)           # num_ref_idx_active_override_flag
        else:
            w.u(1, 1)
            w.ue(n_refs - 1)    # num_ref_idx_l0_active_minus1
        if modify:
            w.u(1, 1)           # ref_pic_list_modification_flag_l0
            w.ue(0)             # idc 0: subtract from picNumPred
            w.ue(1)             # abs_diff_pic_num_minus1 -> PicNum 1
            w.ue(3)             # idc 3: end of modification list
        else:
            w.u(0, 1)
        w.u(0, 1)               # adaptive_ref_pic_marking_mode_flag
        w.se(0)                 # slice_qp_delta
        return w

    # P1: PCM refreshes at 0 and 1, the rest one long skip run
    w = p_header(1, 1, False)
    w.ue(0)
    w.ue(30)  # I_PCM in a P slice
    w.align()
    parts = [w.to_bytes()]
    parts.append(
        bytes([h264_multiref_w(doc_id, 0)]) * 256 + bytes([128]) * 128
    )
    w2 = MsbWriter()
    w2.ue(0)
    w2.ue(30)
    w2.align()
    parts.append(w2.to_bytes())
    parts.append(
        bytes([h264_multiref_w(doc_id, 1)]) * 256 + bytes([128]) * 128
    )
    w3 = MsbWriter()
    w3.ue(n_mbs - 2)
    parts.append(w3.rbsp_trailing())
    units.append(_h264_nal(2, 1, b"".join(parts), 3))

    def inter_picture(frame_num: int, flip: int, modify: bool) -> bytes:
        w = p_header(frame_num, 2, modify)
        for idx in range(n_mbs):
            w.ue(0)          # mb_skip_run 0
            w.ue(0)          # mb_type: P_L0_16x16
            ref = (doc_id + idx + flip) % 2
            w.u(1 - ref, 1)  # ref_idx_l0, te(v) with cMax 1: inverted
            w.se(0)          # mvd x
            w.se(0)          # mvd y
            w.ue(0)          # coded_block_pattern: codeNum 0
        return w.rbsp_trailing()

    units.append(_h264_nal(2, 1, inter_picture(2, 0, False), 4))
    units.append(_h264_nal(2, 1, inter_picture(3, 1, True), 5))
    return b"".join(units)


def h264_weighted_fields(doc_id: int) -> dict:
    """Closed-form weight-table fields of the weighted/direct
    fixture: P2's uni-directional (denom, weight, offset) and the
    B's per-list pairs."""
    return {
        "d2": doc_id % 3,
        "w2": 1 + doc_id % 5,
        "o2": doc_id % 11 - 5,
        "db": doc_id % 2,
        "wl0": 1 + doc_id % 3,
        "ol0": doc_id % 7 - 3,
        "wl1": 1 + (doc_id + 1) % 3,
        "ol1": (doc_id + 2) % 7 - 3,
    }


def h264_weighted_pps_rbsp(doc_id: int) -> bytes:
    """PPS with weighted_pred_flag 1 (P slices carry
    pred_weight_table) and weighted_bipred_idc 1 (explicit B
    weights)."""
    w = MsbWriter()
    w.ue(0)    # pic_parameter_set_id
    w.ue(0)    # seq_parameter_set_id
    w.u(0, 1)  # entropy_coding_mode_flag: CAVLC
    w.u(0, 1)  # bottom_field_pic_order_in_frame_present_flag
    w.ue(0)    # num_slice_groups_minus1
    w.ue(0)    # num_ref_idx_l0_default_active_minus1
    w.ue(0)    # num_ref_idx_l1_default_active_minus1
    w.u(1, 1)  # weighted_pred_flag: EXPLICIT P weights
    w.u(1, 2)  # weighted_bipred_idc: EXPLICIT B weights
    w.se(h264_pic_init_qp(doc_id) - 26)
    w.se(0)
    w.se(0)
    w.u(0, 1)
    w.u(0, 1)
    w.u(0, 1)
    return w.rbsp_trailing()


def make_h264_weighted_bytes(doc_id: int) -> bytes:
    """H.264 Annex-B stream exercising EXPLICIT WEIGHTED PREDICTION
    (ITU-T H.264 7.3.3.2 + 8.4.2.3.2) and SPATIAL DIRECT B modes
    (8.4.1.2.2).  Decode order IDR(poc 0) -> P1(poc 4, identity
    weight table via luma_weight_flag 0, PCM refreshes at MBs 0/1 +
    skips) -> P2(poc 8, REAL uni weights (d2, w2, o2): skip-run then
    explicit zero-MV P_L0 macroblocks, ALL weighted — including the
    skips) -> B(poc 2, non-reference, direct_spatial_mv_pred_flag 1,
    per-list weights): macroblocks cycle B_Skip / B_Direct_16x16 /
    B_Bi_16x16 by (doc + idx) %% 3, every one resolving to
    BI-prediction (explicit-bi neighbors force MinPositive refIdx
    0/0; the first macroblock hits the zero-prediction case), so
    each value is the 8.4.2.3.2 explicit bi formula over the IDR
    (L0, nearest past by POC) and P1 (L1, nearest future —
    co-located picture for colZeroFlag)."""
    mb_w, mb_h, _ca = h264_inter_params(doc_id)
    n_mbs = mb_w * mb_h
    base = h264_inter_base(doc_id)
    f = h264_weighted_fields(doc_id)
    units = [
        _h264_nal(
            3, 7,
            _h264_sps_from_fields(
                66, 10, mb_w - 1, mb_h - 1, max_ref=3, poc_type=0
            ),
            0,
        ),
        _h264_nal(3, 8, h264_weighted_pps_rbsp(doc_id), 1),
    ]

    # IDR (poc 0): the affine plane
    w = MsbWriter()
    w.ue(0)
    w.ue(7)
    w.ue(0)
    w.u(0, 4)      # frame_num
    w.ue(0)        # idr_pic_id
    w.u(0, 4)      # pic_order_cnt_lsb
    w.u(0, 1)
    w.u(0, 1)
    w.se(0)
    w.ue(25)
    w.align()
    parts = [w.to_bytes()]
    lumas = [base + 5 * r + 3 * c for r in range(mb_h) for c in range(mb_w)]
    for m, luma in enumerate(lumas):
        if m:
            parts.append(b"\x0d\x00")
        parts.append(bytes([luma]) * 256 + bytes([128]) * 128)
    parts.append(b"\x80")
    units.append(_h264_nal(3, 5, b"".join(parts), 2))

    # P1 (reference, poc 4): identity weight table (flag-0 default
    # path), PCM refreshes at 0/1, the rest skip
    w = MsbWriter()
    w.ue(0)
    w.ue(5)
    w.ue(0)
    w.u(1, 4)                # frame_num
    w.u(4, 4)                # poc lsb
    w.u(0, 1)                # num_ref_idx_active_override_flag
    w.u(0, 1)                # ref_pic_list_modification_flag_l0
    w.ue(0)                  # luma_log2_weight_denom
    w.ue(0)                  # chroma_log2_weight_denom
    w.u(0, 1)                # luma_weight_l0_flag: identity default
    w.u(0, 1)                # chroma_weight_l0_flag
    w.u(0, 1)                # adaptive_ref_pic_marking_mode_flag
    w.se(0)
    w.ue(0)                  # skip run 0
    w.ue(30)                 # I_PCM
    w.align()
    parts = [w.to_bytes()]
    parts.append(
        bytes([h264_multiref_w(doc_id, 0)]) * 256 + bytes([128]) * 128
    )
    w2 = MsbWriter()
    w2.ue(0)
    w2.ue(30)
    w2.align()
    parts.append(w2.to_bytes())
    parts.append(
        bytes([h264_multiref_w(doc_id, 1)]) * 256 + bytes([128]) * 128
    )
    w3 = MsbWriter()
    w3.ue(n_mbs - 2)         # skip the rest
    parts.append(w3.rbsp_trailing())
    units.append(_h264_nal(2, 1, b"".join(parts), 3))

    # P2 (reference, poc 8): REAL uni weights over P1; a skip run of
    # doc % 3 then explicit zero-MV P_L0_16x16 macroblocks
    s = doc_id % 3
    w = MsbWriter()
    w.ue(0)
    w.ue(5)
    w.ue(0)
    w.u(2, 4)                # frame_num
    w.u(8, 4)                # poc lsb
    w.u(0, 1)
    w.u(0, 1)
    w.ue(f["d2"])            # luma_log2_weight_denom
    w.ue(0)
    w.u(1, 1)                # luma_weight_l0_flag
    w.se(f["w2"])
    w.se(f["o2"])
    w.u(0, 1)                # chroma_weight_l0_flag
    w.u(0, 1)                # adaptive marking
    w.se(0)
    w.ue(s)                  # leading skip run
    for _ in range(n_mbs - s):
        w.ue(0)              # mb_type P_L0_16x16
        w.se(0)              # mvd x
        w.se(0)              # mvd y
        w.ue(0)              # coded_block_pattern
        if _ < n_mbs - s - 1:
            w.ue(0)          # next mb_skip_run
    units.append(_h264_nal(2, 1, w.rbsp_trailing(), 4))

    # B (non-reference, poc 2): spatial direct + per-list weights
    w = MsbWriter()
    w.ue(0)
    w.ue(6)                  # slice_type B
    w.ue(0)
    w.u(3, 4)                # frame_num
    w.u(2, 4)                # poc lsb
    w.u(1, 1)                # direct_spatial_mv_pred_flag
    w.u(0, 1)                # num_ref_idx_active_override_flag
    w.u(0, 1)                # ref_pic_list_modification_flag_l0
    w.u(0, 1)                # ref_pic_list_modification_flag_l1
    w.ue(f["db"])            # luma_log2_weight_denom
    w.ue(0)
    w.u(1, 1)                # luma_weight_l0_flag
    w.se(f["wl0"])
    w.se(f["ol0"])
    w.u(0, 1)
    w.u(1, 1)                # luma_weight_l1_flag
    w.se(f["wl1"])
    w.se(f["ol1"])
    w.u(0, 1)
    w.se(0)                  # slice_qp_delta (non-ref: no marking)
    idx = 0
    while idx < n_mbs:
        run = 0
        while idx < n_mbs and (doc_id + idx) % 3 == 0:
            run += 1
            idx += 1
        w.ue(run)            # mb_skip_run (B_Skip)
        if idx == n_mbs:
            break
        kind = (doc_id + idx) % 3
        if kind == 1:        # B_Direct_16x16
            w.ue(0)
            w.ue(0)          # coded_block_pattern
        else:                # B_Bi_16x16
            w.ue(3)
            w.se(0)
            w.se(0)
            w.se(0)
            w.se(0)
            w.ue(0)
        idx += 1
    units.append(_h264_nal(0, 1, w.rbsp_trailing(), 5))
    return b"".join(units)


def make_h264_bframe_bytes(doc_id: int) -> bytes:
    """H.264 Annex-B stream with a REAL B picture (ITU-T H.264
    8.4.2): POC type 0, decode order IDR(poc 0) -> P(poc 4,
    reference) -> B(poc 2, NON-reference, nal_ref_idc 0) — the B
    picture sits BETWEEN its references in display order, so its
    lists are L0 = the IDR (nearest past by POC) and L1 = the P
    (nearest future).  The P refreshes macroblocks 0/1 to W0/W1 so
    the two references differ observably; the B's macroblocks cycle
    B_L0_16x16 / B_L1_16x16 / B_Bi_16x16 by (doc + idx) % 3 with
    zero MVs and cbp 0 — bi-prediction averages flat macroblocks
    with the spec's (a+b+1)>>1 rounding, exactly."""
    mb_w, mb_h, _ca = h264_inter_params(doc_id)
    n_mbs = mb_w * mb_h
    base = h264_inter_base(doc_id)
    units = [
        _h264_nal(
            3, 7,
            _h264_sps_from_fields(
                66, 10, mb_w - 1, mb_h - 1, max_ref=2, poc_type=0
            ),
            0,
        ),
        _h264_nal(3, 8, h264_pps_rbsp(doc_id), 1),
    ]

    # IDR: the affine plane, now with a pic_order_cnt_lsb field
    w = MsbWriter()
    w.ue(0)        # first_mb_in_slice
    w.ue(7)        # slice_type: I
    w.ue(0)        # pic_parameter_set_id
    w.u(0, 4)      # frame_num
    w.ue(0)        # idr_pic_id
    w.u(0, 4)      # pic_order_cnt_lsb = 0
    w.u(0, 1)
    w.u(0, 1)
    w.se(0)
    w.ue(25)
    w.align()
    parts = [w.to_bytes()]
    lumas = [base + 5 * r + 3 * c for r in range(mb_h) for c in range(mb_w)]
    for m, luma in enumerate(lumas):
        if m:
            parts.append(b"\x0d\x00")
        parts.append(bytes([luma]) * 256 + bytes([128]) * 128)
    parts.append(b"\x80")
    units.append(_h264_nal(3, 5, b"".join(parts), 2))

    # P (reference, poc 4): PCM refreshes at 0/1, the rest skip
    w = MsbWriter()
    w.ue(0)
    w.ue(5)                  # slice_type: P
    w.ue(0)
    w.u(1, 4)                # frame_num
    w.u(4, 4)                # pic_order_cnt_lsb = 4
    w.u(0, 1)                # num_ref_idx_active_override_flag
    w.u(0, 1)                # ref_pic_list_modification_flag_l0
    w.u(0, 1)                # adaptive_ref_pic_marking_mode_flag
    w.se(0)
    w.ue(0)                  # skip run 0
    w.ue(30)                 # I_PCM
    w.align()
    parts = [w.to_bytes()]
    parts.append(
        bytes([h264_multiref_w(doc_id, 0)]) * 256 + bytes([128]) * 128
    )
    w2 = MsbWriter()
    w2.ue(0)
    w2.ue(30)
    w2.align()
    parts.append(w2.to_bytes())
    parts.append(
        bytes([h264_multiref_w(doc_id, 1)]) * 256 + bytes([128]) * 128
    )
    w3 = MsbWriter()
    w3.ue(n_mbs - 2)
    parts.append(w3.rbsp_trailing())
    units.append(_h264_nal(2, 1, b"".join(parts), 3))

    # B (non-reference, poc 2, between the references)
    w = MsbWriter()
    w.ue(0)
    w.ue(6)                  # slice_type: B (6 = B, all slices)
    w.ue(0)
    w.u(2, 4)                # frame_num
    w.u(2, 4)                # pic_order_cnt_lsb = 2
    w.u(0, 1)                # direct_spatial_mv_pred_flag
    w.u(0, 1)                # num_ref_idx_active_override_flag
    w.u(0, 1)                # ref_pic_list_modification_flag_l0
    w.u(0, 1)                # ref_pic_list_modification_flag_l1
    w.se(0)                  # slice_qp_delta (nal_ref_idc 0: no marking)
    for idx in range(n_mbs):
        w.ue(0)              # mb_skip_run 0
        kind = (doc_id + idx) % 3
        w.ue(1 + kind)       # mb_type: B_L0 / B_L1 / B_Bi 16x16
        n_mvs = 2 if kind == 2 else 1
        for _ in range(n_mvs):
            w.se(0)          # mvd x
            w.se(0)          # mvd y
        w.ue(0)              # coded_block_pattern
    units.append(_h264_nal(0, 1, w.rbsp_trailing(), 4))
    return b"".join(units)


def h264_p8x8_quadrant_mv(
    doc_id: int, qr: int, qc: int, qw: int, qh: int
) -> tuple[int, int]:
    """Closed-form target MV (quarter-pel) of one 8x8 sub-partition
    in the P_8x8 fixture: one quadrant step (32 quarter-pel = 8 px)
    in each axis, zeroed by a mod-3 gate and at the grid edges so
    every source quadrant stays in the picture.  The SQL oracle
    restates exactly this arithmetic."""
    ex = (
        0
        if (doc_id + qr + 2 * qc) % 3 == 0 or qc < 1 or qc >= qw - 1
        else (1 if (doc_id + qr + qc) % 2 == 0 else -1)
    )
    ey = (
        0
        if (doc_id + 3 * qr + qc) % 3 == 0 or qr < 1 or qr >= qh - 1
        else (1 if (doc_id + qr + 2 * qc) % 2 == 0 else -1)
    )
    return 32 * ex, 32 * ey


def make_h264_p8x8_bytes(doc_id: int) -> bytes:
    """H.264 Annex-B stream whose P picture carries P_8x8
    SUB-MACROBLOCK motion (ITU-T H.264 7.3.4/7.3.5.2): macroblock
    kinds cycle (doc+idx) % 4 — P_Skip (0), P_8x8 (1, 2) with four
    independent per-quadrant MVs coded as se(v) differences against
    the PARTITION-level 8.4.1.3 median predictor, and zero-MV
    P_L0_16x16 (3) — so skip inference, macroblock prediction and
    sub-partition prediction interleave in one picture (every skip's
    left neighbor is a zero-MV 16x16 or the picture edge, making the
    8.4.1.1 inferred motion structurally zero).  A second all-skip P
    picture chains the quadrant state.  The encoder mirrors the
    decoder's quadrant-grid predictor (decode._h264_qmvp), so each
    mvd is exact; every MV is a multiple of 32 quarter-pel (one
    quadrant) and in-bounds by construction."""
    from .decode import _h264_qmvp

    mb_w, mb_h, _ca = h264_inter_params(doc_id)
    n_mbs = mb_w * mb_h
    qw, qh = 2 * mb_w, 2 * mb_h
    base = h264_inter_base(doc_id)
    lumas = [base + 5 * r + 3 * c for r in range(mb_h) for c in range(mb_w)]
    units = [
        _h264_nal(3, 7, _h264_sps_from_fields(66, 10, mb_w - 1, mb_h - 1), 0),
        _h264_nal(3, 8, h264_pps_rbsp(doc_id), 1),
        _h264_nal(3, 5, _h264_idr_values_rbsp(doc_id % 4, lumas), 2),
    ]

    # P1: skip / P_8x8 / zero-MV 16x16 by (doc + idx) % 4
    w = MsbWriter()
    w.ue(0)        # first_mb_in_slice
    w.ue(5)        # slice_type P
    w.ue(0)        # pic_parameter_set_id
    w.u(1, 4)      # frame_num
    w.u(0, 1)      # num_ref_idx_active_override_flag
    w.u(0, 1)      # ref_pic_list_modification_flag_l0
    w.u(0, 1)      # adaptive_ref_pic_marking_mode_flag
    w.se(0)        # slice_qp_delta
    qmvs: list = [[None] * qw for _ in range(qh)]
    run = 0
    for idx in range(n_mbs):
        mr, mc = idx // mb_w, idx % mb_w
        kind = (doc_id + idx) % 4
        if kind == 0:  # P_Skip: structurally zero inferred motion
            run += 1
            for i in range(4):
                qmvs[2 * mr + i // 2][2 * mc + i % 2] = (0, (0, 0))
            continue
        w.ue(run)
        run = 0
        if kind == 3:  # zero-MV P_L0_16x16
            mvp = _h264_qmvp(qmvs, 2 * mr, 2 * mc, qw, 2)
            w.ue(0)            # mb_type
            w.se(-mvp[0])
            w.se(-mvp[1])
            w.ue(0)            # coded_block_pattern
            for i in range(4):
                qmvs[2 * mr + i // 2][2 * mc + i % 2] = (0, (0, 0))
        else:  # P_8x8
            w.ue(3)            # mb_type P_8x8
            for _i in range(4):
                w.ue(0)        # sub_mb_type: P_L0_8x8
            for i in range(4):
                qr2, qc2 = 2 * mr + i // 2, 2 * mc + i % 2
                mv = h264_p8x8_quadrant_mv(doc_id, qr2, qc2, qw, qh)
                mvp = _h264_qmvp(qmvs, qr2, qc2, qw, 1)
                w.se(mv[0] - mvp[0])
                w.se(mv[1] - mvp[1])
                qmvs[qr2][qc2] = (0, mv)
            w.ue(0)            # coded_block_pattern
    if run:
        w.ue(run)
    units.append(_h264_nal(2, 1, w.rbsp_trailing(), 3))

    # P2: one all-skip run (zero motion chains through 8.4.1.1)
    w2 = MsbWriter()
    w2.ue(0)
    w2.ue(5)
    w2.ue(0)
    w2.u(2, 4)     # frame_num
    w2.u(0, 1)
    w2.u(0, 1)
    w2.u(0, 1)
    w2.se(0)
    w2.ue(n_mbs)   # mb_skip_run: the whole picture
    units.append(_h264_nal(2, 1, w2.rbsp_trailing(), 4))
    return b"".join(units)


def h264_tdirect_dims(doc_id: int) -> tuple[int, int]:
    """(mb_w, mb_h) for the temporal-direct fixture: wide enough
    (6-7 x 3-4) that interior columns can carry the 2-macroblock
    co-located motion with every scaled source in-picture."""
    return 6 + doc_id % 2, 3 + doc_id % 2


def h264_tdirect_dx(doc_id: int, idx: int, mb_w: int) -> int:
    """Closed-form horizontal motion (in 2-macroblock units) of the
    co-located P picture's macroblock ``idx``: zero via a mod-3 gate
    and outside columns 2..mb_w-3, else ±1 by parity.  mvCol =
    (128*dx, 0) quarter-pel, so the POC-2-of-4 temporal scale gives
    mvL0 = (64*dx, 0) and mvL1 = (-64*dx, 0) — all macroblock-
    aligned, all in-bounds.  The SQL oracle restates this."""
    c = idx % mb_w
    if (doc_id + idx) % 3 == 0 or c < 2 or c > mb_w - 3:
        return 0
    return 1 if (doc_id + idx) % 2 == 0 else -1


def make_h264_tdirect_bytes(doc_id: int) -> bytes:
    """H.264 Annex-B stream whose B picture is decoded by TEMPORAL
    direct prediction (ITU-T H.264 8.4.1.2.3): decode order IDR(poc
    0, affine I_PCM plane) -> P(poc 4, reference; EVERY macroblock an
    explicit P_L0_16x16 with real motion mvCol = (128*dx, 0) against
    the 8.4.1.3 median predictor) -> B(poc 2, non-reference,
    direct_spatial_mv_pred_flag 0; macroblocks are B_Skip except
    every fifth, an explicit B_Direct_16x16) — so every B macroblock
    derives its motion purely from the co-located P macroblock and
    the POC distances (tb 2, td 4: DistScaleFactor 128, an exact
    halving)."""
    from .decode import _h264_mvp

    mb_w, mb_h = h264_tdirect_dims(doc_id)
    n_mbs = mb_w * mb_h
    base = h264_inter_base(doc_id)
    units = [
        _h264_nal(
            3, 7,
            _h264_sps_from_fields(
                66, 10, mb_w - 1, mb_h - 1, max_ref=2, poc_type=0
            ),
            0,
        ),
        _h264_nal(3, 8, h264_pps_rbsp(doc_id), 1),
    ]

    # IDR (poc 0): affine I_PCM plane, with the POC-type-0 field
    w = MsbWriter()
    w.ue(0)
    w.ue(7)
    w.ue(0)
    w.u(0, 4)      # frame_num
    w.ue(doc_id % 4)
    w.u(0, 4)      # pic_order_cnt_lsb = 0
    w.u(0, 1)
    w.u(0, 1)
    w.se(0)
    w.ue(25)
    w.align()
    parts = [w.to_bytes()]
    lumas = [base + 5 * r + 3 * c for r in range(mb_h) for c in range(mb_w)]
    for m, luma in enumerate(lumas):
        if m:
            parts.append(b"\x0d\x00")
        parts.append(bytes([luma]) * 256 + bytes([128]) * 128)
    parts.append(b"\x80")
    units.append(_h264_nal(3, 5, b"".join(parts), 2))

    # P (reference, poc 4): explicit real motion everywhere
    w = MsbWriter()
    w.ue(0)
    w.ue(5)
    w.ue(0)
    w.u(1, 4)      # frame_num
    w.u(4, 4)      # pic_order_cnt_lsb = 4
    w.u(0, 1)      # num_ref_idx_active_override_flag
    w.u(0, 1)      # ref_pic_list_modification_flag_l0
    w.u(0, 1)      # adaptive_ref_pic_marking_mode_flag
    w.se(0)
    mbs: list = [None] * n_mbs
    for idx in range(n_mbs):
        mv = (128 * h264_tdirect_dx(doc_id, idx, mb_w), 0)
        mvp = _h264_mvp(mbs, idx, mb_w)
        w.ue(0)            # mb_skip_run
        w.ue(0)            # mb_type P_L0_16x16
        w.se(mv[0] - mvp[0])
        w.se(mv[1] - mvp[1])
        w.ue(0)            # coded_block_pattern
        mbs[idx] = (0, mv)
    units.append(_h264_nal(2, 1, w.rbsp_trailing(), 3))

    # B (non-reference, poc 2): temporal skip/direct only
    w = MsbWriter()
    w.ue(0)
    w.ue(6)        # slice_type B
    w.ue(0)
    w.u(2, 4)      # frame_num
    w.u(2, 4)      # pic_order_cnt_lsb = 2
    w.u(0, 1)      # direct_spatial_mv_pred_flag = 0: TEMPORAL
    w.u(0, 1)      # num_ref_idx_active_override_flag
    w.u(0, 1)      # ref_pic_list_modification_flag_l0
    w.u(0, 1)      # ref_pic_list_modification_flag_l1
    w.se(0)
    run = 0
    for idx in range(n_mbs):
        if (doc_id + idx) % 5 == 0:
            w.ue(run)
            run = 0
            w.ue(0)    # mb_type B_Direct_16x16
            w.ue(0)    # coded_block_pattern
        else:
            run += 1
    if run:
        w.ue(run)  # trailing skip run
    units.append(_h264_nal(0, 1, w.rbsp_trailing(), 4))
    return b"".join(units)


def h264_gop_params(doc_id: int) -> tuple[int, int, int, int]:
    """(n_gops, gop_len, mb_w, mb_h) for the inter-frame GOP fixture:
    each GOP is one all-I_PCM IDR picture followed by gop_len-1 all-
    P_Skip pictures (every macroblock skipped -> copy the reference)."""
    return 1 + doc_id % 2, 2 + doc_id % 3, 1 + doc_id % 2, 1 + (doc_id // 2) % 2


def h264_pskip_rbsp(frame_num: int, n_mbs: int) -> bytes:
    """One COMPLETE all-skip P slice RBSP for this fixture's SPS/PPS
    shape (ITU-T H.264 7.3.3 + 7.3.4): the full P header —
    first_mb_in_slice, slice_type 5 (all-slices-P), pps id, frame_num,
    num_ref_idx_active_override_flag, ref_pic_list_modification flag,
    dec_ref_pic_marking (non-IDR: adaptive flag), slice_qp_delta — then
    slice_data that is a single ``mb_skip_run`` covering every
    macroblock in the picture (P_Skip: zero motion against the
    reference, no residual, NO entropy-coded macroblock layer), closed
    by rbsp_trailing_bits."""
    w = MsbWriter()
    w.ue(0)                 # first_mb_in_slice
    w.ue(5)                 # slice_type: P (all slices in stream are P)
    w.ue(0)                 # pic_parameter_set_id
    w.u(frame_num % 16, 4)  # frame_num (log2_max_frame_num_minus4 = 0)
    w.u(0, 1)               # num_ref_idx_active_override_flag
    w.u(0, 1)               # ref_pic_list_modification_flag_l0
    w.u(0, 1)               # dec_ref_pic_marking: adaptive_marking_flag
    w.se(0)                 # slice_qp_delta
    w.ue(n_mbs)             # mb_skip_run: every macroblock is P_Skip
    return w.rbsp_trailing()


def h264_refresh_fields(doc_id: int, g: int, s: int, n_mbs: int) -> tuple[int, int]:
    """(refresh_mb_index, flat_luma) of the I_PCM refresh macroblock
    that every P picture of an even doc carries: closed forms a SQL
    oracle restates.  The refreshed index depends only on (doc, g) so
    each P picture's mean is one substitution into the IDR sum — no
    refresh history needed in SQL (the decoder still carries full
    per-macroblock reference state; persistence across non-refresh
    pictures is pinned by a handcrafted unit test)."""
    return (doc_id + g) % n_mbs, 10 + (doc_id * 11 + 37 * g + 23 * s) % 200


def h264_prefresh_rbsp(
    frame_num: int, n_mbs: int, refresh_mb: int, luma: int
) -> bytes:
    """A P slice with a PARTIAL skip run (ITU-T H.264 7.3.4): the same
    P header as ``h264_pskip_rbsp``, then slice_data of mb_skip_run =
    refresh_mb, ONE non-skipped macroblock coded as I_PCM (mb_type 30
    in a P slice = intra type 25 + 5, 7.4.5), and the closing
    mb_skip_run over the remaining macroblocks.  The one partial-skip
    shape that carries real pixels without the CAVLC residual tables."""
    w = MsbWriter()
    w.ue(0)                 # first_mb_in_slice
    w.ue(5)                 # slice_type: P
    w.ue(0)                 # pic_parameter_set_id
    w.u(frame_num % 16, 4)  # frame_num
    w.u(0, 1)               # num_ref_idx_active_override_flag
    w.u(0, 1)               # ref_pic_list_modification_flag_l0
    w.u(0, 1)               # dec_ref_pic_marking: adaptive_marking_flag
    w.se(0)                 # slice_qp_delta
    w.ue(refresh_mb)        # mb_skip_run before the coded macroblock
    w.ue(30)                # mb_type: I_PCM (P-slice intra offset +5)
    w.align()    # pcm_alignment_zero_bit
    parts = [w.to_bytes(), bytes([luma]) * 256 + bytes([128]) * 128]
    tail = MsbWriter()
    if refresh_mb < n_mbs - 1:
        tail.ue(n_mbs - 1 - refresh_mb)  # closing skip run
    parts.append(tail.rbsp_trailing())
    return b"".join(parts)


def make_h264_gop_bytes(doc_id: int) -> bytes:
    """REAL H.264 Annex-B stream with INTER frames a decoder can fully
    reconstruct without entropy tables: each GOP opens with an
    all-I_PCM IDR picture (raw pixels, ``h264_ipcm_idr_rbsp``; every
    fifth doc splits it into TWO slices sharing frame_num/idr_pic_id,
    the second starting at first_mb_in_slice = n_mbs//2) followed
    by P pictures: odd docs ship all-P_Skip pictures
    (``h264_pskip_rbsp`` — every macroblock copies the co-located
    reference; with zero spatial MV neighbors the P_Skip motion vector
    prediction is zero, so the picture IS its GOP's IDR), even docs
    ship PARTIAL skip runs (``h264_prefresh_rbsp``) whose one
    non-skipped macroblock is an I_PCM refresh — skip, coded
    macroblock, skip, all in one slice_data.  Non-PCM coded
    macroblocks would need the CAVLC tables and stay the declared
    stub."""
    n_gops, gop_len, mb_w, mb_h = h264_gop_params(doc_id)
    n_mbs = mb_w * mb_h
    units = [
        _h264_nal(3, 7, _h264_sps_from_fields(66, 10, mb_w - 1, mb_h - 1), 0),
        _h264_nal(3, 8, h264_pps_rbsp(doc_id), 1),
    ]
    idx = 2
    split_idr = doc_id % 5 == 0 and n_mbs >= 2
    for g in range(n_gops):
        if split_idr:
            # multi-slice IDR: two NAL units share frame_num 0 and
            # idr_pic_id, carving the picture at n_mbs//2
            half = n_mbs // 2
            units.append(
                _h264_nal(
                    3, 5,
                    h264_ipcm_idr_rbsp(doc_id, g, g, n_mbs, 0, half),
                    idx,
                )
            )
            idx += 1
            units.append(
                _h264_nal(
                    3, 5,
                    h264_ipcm_idr_rbsp(doc_id, g, g, n_mbs, half), idx,
                )
            )
        else:
            units.append(
                _h264_nal(3, 5, h264_ipcm_idr_rbsp(doc_id, g, g, n_mbs), idx)
            )
        idx += 1
        for s in range(1, gop_len):
            if doc_id % 2 == 0:
                r_mb, luma = h264_refresh_fields(doc_id, g, s, n_mbs)
                rbsp = h264_prefresh_rbsp(s, n_mbs, r_mb, luma)
            else:
                rbsp = h264_pskip_rbsp(s, n_mbs)
            units.append(_h264_nal(2, 1, rbsp, idx))
            idx += 1
    return b"".join(units)


# MPEG-1 Layer III scalefac_compress -> (slen1, slen2) (ISO 11172-3
# Table 2.4.2.7): slen1 covers scalefactor bands 0-10, slen2 bands
# 11-20 of a long-block mono granule.
MP3_SLEN = (
    (0, 0), (0, 1), (0, 2), (0, 3), (3, 0), (1, 1), (1, 2), (1, 3),
    (2, 1), (2, 2), (2, 3), (3, 1), (3, 2), (3, 3), (4, 2), (4, 3),
)


# ---- MPEG-1 Layer III frame writer ---------------------------------
# The make_mp3_*_bytes fixtures below write their frames through these
# (the walker fixture make_mp3_bytes, with its CRC and VBR padding,
# keeps its own loop): the granule coders (``_mp3_put_scalefacs``,
# ``_mp3_put_pairs``, ``_mp3_put_quads``) append a granule's regions to
# an MsbWriter, the caller takes part2_3_length from ``tell()``, and
# ``_mp3_frame`` lays out header, side info and zero-filled main data.

# Header byte 3 per channel mode (ISO 11172-3 2.4.1.3): mode(2)
# mode_extension(2) copyright(1) original(1) emphasis(2).
MP3_MONO = 0b11000100      # single channel
MP3_JOINT_MS = 0b01100100  # joint stereo, mode_extension 10: MS on
MP3_JOINT_IS = 0b01010100  # joint stereo, mode_extension 01: intensity on

# (slen1-coded, slen2-coded) scalefactor counts of each granule
# partition (ISO 11172-3 2.4.2.7): long bands 0-10 / 11-20; short
# bands 0-5 / 6-11 x 3 windows; mixed: 8 long bands + short bands 3-5
# x 3 windows / short bands 6-11 x 3 windows.
MP3_SF_LONG = (11, 10)
MP3_SF_SHORT = (18, 18)
MP3_SF_MIXED = (17, 18)


def _mp3_region_bytes(br_idx: int, sr_idx: int, mode: int = MP3_MONO) -> int:
    """Main-data bytes of an unpadded frame: the Layer III length
    ``144 * bitrate / sample_rate`` less the 4-byte header and the side
    info (17 bytes mono, 32 stereo)."""
    kbps, sr = MP3_BITRATES_KBPS[br_idx], MP3_SAMPLE_RATES[sr_idx]
    return (144 * kbps * 1000) // sr - 4 - (17 if mode >> 6 == 3 else 32)


def _mp3_main_data(data: "MsbWriter | bytes", n_bytes: int) -> bytes:
    """Granule data zero-filled to ``n_bytes`` (a packer's bits are
    first zero-padded to a byte boundary)."""
    if isinstance(data, MsbWriter):
        data.align()
        data = data.to_bytes()
    if len(data) > n_bytes:
        raise ValueError("granule data overran the frame region")
    return data + bytes(n_bytes - len(data))


def _mp3_put_gr_info(
    w: MsbWriter, part2_3_length: int, big_values: int, global_gain: int,
    scalefac_compress: int, table_select: tuple, region0_count: int = 0,
    region1_count: int = 0, block_type: int = 0, mixed_block_flag: int = 0,
    subblock_gain: tuple = (0, 0, 0), preflag: int = 0,
    scalefac_scale: int = 0, count1table_select: int = 1,
) -> None:
    """One granule's (one channel's) 59 side-info bits (ISO 11172-3
    2.4.1.7).  ``block_type`` 0 writes the long-block branch (three
    table_selects, region counts); any other block_type sets
    windows_switching_flag and writes block_type, mixed_block_flag, two
    table_selects and three subblock_gains."""
    w.u(part2_3_length, 12)
    w.u(big_values, 9)
    w.u(global_gain, 8)
    w.u(scalefac_compress, 4)
    if block_type == 0:
        w.u(0, 1)
        for t in table_select:
            w.u(t, 5)
        w.u(region0_count, 4)
        w.u(region1_count, 3)
    else:
        w.u(1, 1)
        w.u(block_type, 2)
        w.u(mixed_block_flag, 1)
        for t in table_select:
            w.u(t, 5)
        for gain in subblock_gain:
            w.u(gain, 3)
    w.u(preflag, 1)
    w.u(scalefac_scale, 1)
    w.u(count1table_select, 1)


def _mp3_frame(
    br_idx: int, sr_idx: int, mode: int, gr_info: list[dict],
    main: "MsbWriter | bytes", main_data_begin: int = 0, scfsi: int = 0,
) -> bytes:
    """One unpadded, unprotected MPEG-1 Layer III frame: the 4-byte
    header (sync, MPEG-1, Layer III, no CRC, ``br_idx``, ``sr_idx``, no
    padding, then the ``mode`` byte), the side info — main_data_begin,
    private_bits, scfsi (4 bits per channel), then one
    ``_mp3_put_gr_info`` field dict per granule, granule-major and
    channel-minor in stereo — and the main data zero-filled to the
    frame length.  ``main`` is the granule packer, or the frame's
    main-data bytes where a bit-reservoir fixture cuts them from a
    stream."""
    si = MsbWriter()
    si.u(main_data_begin, 9)
    if mode >> 6 == 3:
        si.u(0, 5)  # private_bits
        si.u(scfsi, 4)
    else:
        si.u(3, 3)  # private_bits
        si.u(scfsi, 8)
    for fields in gr_info:
        _mp3_put_gr_info(si, **fields)
    header = bytes((0xFF, 0b11111011, (br_idx << 4) | (sr_idx << 2), mode))
    return header + si.to_bytes() + _mp3_main_data(
        main, _mp3_region_bytes(br_idx, sr_idx, mode)
    )


def _mp3_put_scalefacs(w: MsbWriter, sfc: int, part: tuple, sf_a, sf_b) -> None:
    """A granule's scalefactors (part2): ``part``'s (n1, n2) counts at
    scalefac_compress ``sfc``'s (slen1, slen2) bits (Table 2.4.2.7).
    ``sf_a`` / ``sf_b`` give the slen1 / slen2 group's values: one int
    for every scalefactor of the group, or a function of the
    scalefactor's index within it."""
    for slen, n, sf in zip(MP3_SLEN[sfc], part, (sf_a, sf_b)):
        if not callable(sf):
            w.repeat(sf, slen, n)
        elif slen:
            for i in range(n):
                w.u(sf(i), slen)


def _mp3_put_pairs(w: MsbWriter, pairs, sign_base: int) -> None:
    """The big-values region: per pair ``(table, |x|, |y|)``, the B.7
    code of the pair (magnitudes clamped to the ESC value 15), then x's
    linbits extension and sign bit, then y's (the 2.4.2.7 order).  Pair
    q's sign bits are ``(sign_base + q) % 2`` for x and ``(sign_base +
    q + 1) % 2`` for y (1 = negative), the closed form every fixture
    shares.  Table-0 pairs are all zero and transmit nothing."""
    from .dec_mp3 import MP3_LINBITS

    enc = _mp3_ht_enc()[0]
    u = w.u
    for q, (t, x, y) in enumerate(pairs, sign_base):
        if not t:
            continue
        if t < 16:  # no linbits
            n, v = enc[t][(x, y)]
            lb = 0
        else:
            # ids 17-23 share table 16's code matrix and 25-31 table
            # 24's (only linbits differ)
            n, v = enc[16 if t < 24 else 24][(min(x, 15), min(y, 15))]
            lb = MP3_LINBITS[t]
        # the code and the fields after it go out in one write
        if lb and x >= 15:
            v, n = (v << lb) | (x - 15), n + lb
        if x:
            v, n = (v << 1) | (q & 1), n + 1
        if lb and y >= 15:
            v, n = (v << lb) | (y - 15), n + lb
        if y:
            v, n = (v << 1) | (~q & 1), n + 1
        u(v, n)


def _mp3_put_quads(w: MsbWriter, quads, table_a: bool = False) -> None:
    """The count1 region: per quadruple ``(pattern, neg)`` — pattern's
    bits 3..0 are the |v w x y| flags — the table A Huffman code of the
    pattern or table B's fixed 4 complemented bits, then one sign bit
    ``neg`` per nonzero value."""
    c1a = _mp3_ht_enc()[1] if table_a else None
    for (pattern, neg), run in groupby(quads):
        n, v = c1a[pattern] if table_a else (4, pattern ^ 0xF)
        nz = bin(pattern).count("1")
        # a run of equal quadruples goes out in one write
        w.repeat((v << nz) | (((1 << nz) - 1) if neg else 0), n + nz,
                 sum(1 for _ in run))


def _mp3_c1_quads(doc_id: int, g: int, n: int) -> list[tuple[int, int]]:
    """The count1 closed form most fixtures share: quadruple j of
    granule g is pattern (doc + 5g + j) % 16 with sign (doc + j) % 2."""
    return [((doc_id + 5 * g + j) % 16, (doc_id + j) % 2) for j in range(n)]


def _mp3_live_region(rc: int, nbv: int) -> tuple[int, int]:
    """(region0 pairs, region1_count) of a 44.1 kHz long granule whose
    region0 — the silent table-0 span up to B.8[rc + 1] — is followed
    by ``nbv`` live pairs that region1 must hold: region1_count is
    clamped so the B.8 index stays in range and region2 is empty."""
    from .dec_mp3 import MP3_SFB_LONG_44100

    rc2 = min(7, 20 - rc)
    r0_pairs = MP3_SFB_LONG_44100[rc + 1] // 2
    if r0_pairs + nbv > MP3_SFB_LONG_44100[rc + rc2 + 2] // 2:
        raise ValueError("live pairs overrun region1")
    return r0_pairs, rc2


def _mp3_table_granule(
    w: MsbWriter, doc_id: int, g: int, part: tuple, pairs: list,
    n_quads: int, table_a: bool = False,
) -> dict:
    """Granule g of a Huffman-table fixture (ht, lb, b8, ws): ``part``'s
    scalefactors under scalefac_compress (doc + 2g) % 16 with values
    (doc + g) / (doc + 7 + g) mod 2^slen, ``pairs`` (signs based at
    doc + g), and ``n_quads`` count1 quadruples in table A or B.
    Returns the side-info fields the main data fixes."""
    sfc = (doc_id + 2 * g) % 16
    sl1, sl2 = MP3_SLEN[sfc]
    start = w.tell()
    _mp3_put_scalefacs(w, sfc, part, (doc_id + g) % (1 << sl1),
                       (doc_id + 7 + g) % (1 << sl2))
    _mp3_put_pairs(w, pairs, doc_id + g)
    _mp3_put_quads(w, _mp3_c1_quads(doc_id, g, n_quads), table_a)
    return dict(part2_3_length=w.tell() - start, big_values=len(pairs),
                scalefac_compress=sfc,
                count1table_select=0 if table_a else 1)


def _mp3_reservoir_bytes(
    doc_id: int, n_frames: int, sr_idx: int, br_idx: int, delta: int,
    put_granule, scfsi: int = 0,
) -> bytes:
    """The live bit reservoir of the main-data fixtures: CBR frames
    whose side info points ``main_data_begin = k * delta`` bytes back
    into the concatenated main-data regions.  Frame k's logical blob is
    granule 0 || granule 1 bit-contiguous, zero-filled to ``cap -
    delta`` bytes; the blobs lie back to back with stuffing at the
    tail, and each frame carries the next ``cap`` bytes of that stream.
    ``put_granule(w, g, parity, cap)`` writes granule g's main data,
    which depends on frame k only through k's parity (the sign bits),
    and returns its side-info fields but part2_3_length and
    global_gain ((doc + 29k + 17g) % 256)."""
    cap = _mp3_region_bytes(br_idx, sr_idx)
    blobs, fields = {}, {}
    for parity in (0, 1):
        w = MsbWriter()
        for g in (0, 1):
            start = w.tell()
            fields[g] = put_granule(w, g, parity, cap)
            fields[g]["part2_3_length"] = w.tell() - start
        blobs[parity] = _mp3_main_data(w, cap - delta)
    stream = b"".join(blobs[k % 2] for k in range(n_frames))
    stream += bytes(n_frames * cap - len(stream))
    return b"".join(
        _mp3_frame(
            br_idx, sr_idx, MP3_MONO,
            [dict(fields[g], global_gain=(doc_id + 29 * k + 17 * g) % 256)
             for g in (0, 1)],
            stream[k * cap : (k + 1) * cap],
            main_data_begin=k * delta,
            scfsi=scfsi,
        )
        for k in range(n_frames)
    )


def mp3_md_params(doc_id: int) -> tuple[int, int, int, int]:
    """(n_frames, sample_rate_index, bitrate_index, reservoir_step) for
    the main-data MP3 fixture (``make_mp3_md_bytes``).  CBR so every
    frame's main-data region has the same capacity; reservoir_step is
    the per-frame growth of main_data_begin (blob k is reservoir_step
    bytes smaller than its region, so frame k's main data begins
    k * reservoir_step bytes back in the bit reservoir — bounded by
    6 * 63 = 378 < the field's 511 ceiling)."""
    return (
        3 + doc_id % 5,        # n_frames (3..7)
        doc_id % 3,            # sample-rate index
        7 + doc_id % 3,        # bitrate index: 96/112/128 kbps
        (doc_id % 8) * 9,      # reservoir step delta (0..63 bytes)
    )


# ISO 11172-3 Table B.7, Huffman code table 1 (2x2, no linbits) —
# (x, y) -> (code_length, code), restated for the bit-count closed
# forms (``mp3_bv_bits``, ``mp3_sb_granule``); the frame writer encodes
# through ``_mp3_ht_enc``, which inverts dec_mp3.MP3_HUFF_TABLES.
MP3_HUFF1_ENC = {(0, 0): (1, 0b1), (1, 0): (2, 0b01),
                 (0, 1): (3, 0b001), (1, 1): (3, 0b000)}


def mp3_bv_tables(doc_id: int) -> tuple[int, int, int]:
    """Per-doc region table_select triple.  Every sixth doc (always a
    44.1 kHz doc: doc%6=0 implies doc%3=0) switches tables across the
    regions — table 0 (all-zero, zero bits) for region1 — so the
    corpus exercises the B.8 region-boundary dispatch; everyone else
    uses table 1 uniformly (boundaries then provably irrelevant)."""
    return (1, 0, 1) if doc_id % 6 == 0 else (1, 1, 1)


def mp3_bv_pairs(doc_id: int, g: int) -> list[tuple[int, int]]:
    """The granule's big-values spectrum pairs (closed forms): pair q
    is (x, y) = ((doc+3q+g)%2, (doc+q+2g)%2), zeroed for pairs 2-3 of
    the region-switching docs (their region1 = samples 4..7 = pairs
    2-3 at region0_count = region1_count = 0 carries table 0)."""
    n_pairs = 6 + (doc_id + g) % 7
    pairs = []
    for q in range(n_pairs):
        if doc_id % 6 == 0 and 2 <= q < 4:
            pairs.append((0, 0))
        else:
            pairs.append(((doc_id + 3 * q + g) % 2, (doc_id + q + 2 * g) % 2))
    return pairs


def mp3_bv_bits(doc_id: int, g: int) -> int:
    """Bits the big-values region occupies: per pair, the table-1 code
    length plus one sign bit per nonzero — except the table-0 pairs of
    the region-switching docs, which occupy zero bits."""
    total = 0
    for q, (x, y) in enumerate(mp3_bv_pairs(doc_id, g)):
        if doc_id % 6 == 0 and 2 <= q < 4:
            continue
        total += MP3_HUFF1_ENC[(x, y)][0] + x + y
    return total


def mp3_scfsi(doc_id: int) -> int:
    """The frame's 4-bit scfsi (ISO 11172-3 2.4.2.7): bit 3-i covers
    scalefactor band group i (bands 0-5 / 6-10 / 11-15 / 16-20); a set
    bit means granule 1 REUSES granule 0's scalefactors for that group
    and transmits nothing.  (doc*3 + 7) % 16 walks every pattern
    across the corpus, including all-reuse (15) and none (0)."""
    return (doc_id * 3 + 7) % 16


def mp3_sf_counts(doc_id: int, g: int) -> tuple[int, int]:
    """(slen1-coded, slen2-coded) band counts granule g TRANSMITS:
    granule 0 always all 11+10; granule 1 drops the scfsi-reused
    groups (6/5 slen1 bands, 5/5 slen2 bands)."""
    if g == 0:
        return 11, 10
    scfsi = mp3_scfsi(doc_id)
    b = [(scfsi >> (3 - i)) & 1 for i in range(4)]
    return 6 * (1 - b[0]) + 5 * (1 - b[1]), 5 * (1 - b[2]) + 5 * (1 - b[3])


def mp3_md_granule(doc_id: int, g: int, region_bytes: int, delta: int):
    """Closed-form main-data content for granule g (identical across a
    doc's frames except the big-values/count1 signs, which alternate
    by frame): (scalefac_compress, sf_first11, sf_last10, quad_pattern,
    n_quads, part2_3_length).  All integer arithmetic a SQL oracle
    restates."""
    sfc = (doc_id + g) % 16
    sl1, sl2 = MP3_SLEN[sfc]
    sf_a = (doc_id + g) % (1 << sl1)
    sf_b = (doc_id + 5 + g) % (1 << sl2)
    n1, n2 = mp3_sf_counts(doc_id, g)
    sf_bits = n1 * sl1 + n2 * sl2
    pattern = (doc_id + g) % 16
    nz = bin(pattern).count("1")
    bpq = 4 + nz
    blob_bits = 8 * (region_bytes - delta)
    budget = blob_bits // 2 if g == 0 else blob_bits - blob_bits // 2
    # Capped at 24 quadruples per granule: the entropy decode is just
    # as real at 24 as at region-filling counts, but a Python kernel
    # over 50k docs x 7 frames is ~20x cheaper (the rest of the region
    # is ancillary stuffing, exactly as the spec allows — part2_3
    # accounting still must land bit-exact).
    bv_bits = mp3_bv_bits(doc_id, g)
    n_quads = min((budget - sf_bits - bv_bits) // bpq, 24)
    part2_3 = sf_bits + bv_bits + n_quads * bpq
    return sfc, sf_a, sf_b, pattern, n_quads, part2_3


def make_mp3_md_bytes(doc_id: int) -> bytes:
    """MPEG-1 Layer III stream with REAL, decodable main data and a
    REAL bit reservoir: CBR frames whose side info points
    ``main_data_begin = k * delta`` bytes back into the concatenated
    main-data regions, and whose granule data is an actual entropy
    bitstream — slen-coded scalefactors (Table 2.4.2.7) with a live
    scfsi field (granule 1 omits the reused band groups) followed by
    a big-values region of table-1 Huffman pair codes with sign bits
    (every sixth doc switches regions between tables 1 and 0 so the
    B.8 boundary dispatch is exercised), then count1 quadruples in the
    fixed-length table-B code (4 complement bits + one sign bit per
    nonzero value), exactly ``part2_3_length`` bits per granule.
    Huffman tables 2-31 (including all linbits tables) remain the
    decoder's declared stub."""
    n_frames, sr_idx, br_idx, delta = mp3_md_params(doc_id)
    tsels = mp3_bv_tables(doc_id)

    def put_granule(w: MsbWriter, g: int, parity: int, cap: int) -> dict:
        sfc, sf_a, sf_b, pattern, n_quads, _p23 = mp3_md_granule(
            doc_id, g, cap, delta
        )
        # granule 1 omits the scfsi-reused band groups
        _mp3_put_scalefacs(w, sfc, mp3_sf_counts(doc_id, g), sf_a, sf_b)
        # pair q draws from its region's table (44.1 kHz B.8 boundaries
        # at count fields 0): the region-switching docs' table-0 pairs
        # transmit nothing
        pairs = mp3_bv_pairs(doc_id, g)
        _mp3_put_pairs(w, [
            (tsels[0 if q < 2 else (1 if q < 4 else 2)], x, y)
            for q, (x, y) in enumerate(pairs)
        ], doc_id + parity + g)
        _mp3_put_quads(w, [(pattern, (doc_id + g + parity) % 2)] * n_quads)
        return dict(big_values=len(pairs), scalefac_compress=sfc,
                    table_select=tsels)

    return _mp3_reservoir_bytes(
        doc_id, n_frames, sr_idx, br_idx, delta, put_granule,
        scfsi=mp3_scfsi(doc_id),
    )


# The B.7 table ids the fixtures cycle through and each table's x/y
# grid width.  MP3_HT_TABLES is the original six-id cycle kept by the
# window-switching and short-block fixtures (their point is boundary
# dispatch); MP3_HT_TABLES_ALL is every table the decoder ships and
# drives the hufftables fixture.
MP3_HT_TABLES = (1, 2, 3, 5, 6, 7)
MP3_HT_TABLES_ALL = (1, 2, 3, 5, 6, 7, 8, 9, 10, 11, 12)
MP3_HT_DIMS = {
    1: 2, 2: 3, 3: 3, 5: 4, 6: 4, 7: 6, 8: 6, 9: 6, 10: 8, 11: 8,
    12: 8, 13: 16, 15: 16, 16: 16, 24: 16,
}

_MP3_HT_ENC_CACHE: dict | None = None


def _mp3_ht_enc() -> tuple[dict, dict]:
    """Encoder mirrors of the decoder's shipped table data — inverted
    from ``dec_mp3.MP3_HUFF_TABLES`` / ``dec_mp3.MP3_COUNT1A`` so the
    spec tables have exactly one source of truth in the repo."""
    global _MP3_HT_ENC_CACHE
    if _MP3_HT_ENC_CACHE is None:
        from .dec_mp3 import MP3_COUNT1A, MP3_HUFF_TABLES

        _MP3_HT_ENC_CACHE = (
            {
                t: {xy: lc for lc, xy in tab.items()}
                for t, tab in MP3_HUFF_TABLES.items()
            },
            {pat: lc for lc, pat in MP3_COUNT1A.items()},
        )
    return _MP3_HT_ENC_CACHE


def mp3_ht_tsels(doc_id: int, g: int) -> tuple[int, int, int]:
    """Granule g's region table_select triple: every fifth doc splits
    the big-values spectrum across THREE DIFFERENT shipped tables
    (region boundaries then come from the 44.1 kHz B.8 row: pairs 0-1 /
    2-3 / rest at region0_count = region1_count = 0); other docs use
    one table uniformly, cycling all ELEVEN shipped ids."""
    n = len(MP3_HT_TABLES_ALL)
    if doc_id % 5 == 0:
        return (
            MP3_HT_TABLES_ALL[(doc_id + g) % n],
            MP3_HT_TABLES_ALL[(doc_id + g + 2) % n],
            MP3_HT_TABLES_ALL[(doc_id + g + 4) % n],
        )
    t = MP3_HT_TABLES_ALL[(doc_id + g) % n]
    return (t, t, t)


def mp3_ht_pairs(doc_id: int, g: int) -> list[tuple[int, int, int]]:
    """Granule g's big-values pairs as (table, x, y) closed forms: pair
    q draws from its region's table (region = 0 for q < 2, 1 for
    q < 4, else 2 — the B.8 44.1 kHz boundaries at count fields 0) with
    x = (doc + 3q + g) % dim, y = (2 doc + q + g) % dim."""
    tsels = mp3_ht_tsels(doc_id, g)
    out = []
    for q in range(5 + (doc_id + g) % 6):
        t = tsels[0 if q < 2 else (1 if q < 4 else 2)]
        dim = MP3_HT_DIMS[t]
        out.append((t, (doc_id + 3 * q + g) % dim,
                    (2 * doc_id + q + g) % dim))
    return out


def make_mp3_ht_bytes(doc_id: int) -> bytes:
    """MPEG-1 Layer III stream exercising EVERY shipped B.7 Huffman
    table (all eleven: 1/2/3 and 5-12) and BOTH count1 codes:
    44.1 kHz CBR frames (96/112/128 kbps), ``main_data_begin = 0``
    (the reservoir lives in the ``make_mp3_md_bytes`` fixture — this
    one isolates entropy-table dispatch), scfsi 0, both granules
    long-block.  Granule g's big-values region carries
    ``mp3_ht_pairs`` codes — every fifth doc splits its regions
    across three different tables so the B.8 boundary dispatch runs
    against the NEW tables — and its count1
    region alternates between Huffman table A (uncomplemented
    patterns + sign bits) and fixed-length table B by (doc + g)
    parity.  Every value is a closed form a SQL oracle restates;
    ``part2_3_length`` is the exact bit count."""
    w = MsbWriter()
    gr_info = [
        dict(
            _mp3_table_granule(
                w, doc_id, g, MP3_SF_LONG, mp3_ht_pairs(doc_id, g),
                3 + (doc_id + g) % 4, table_a=(doc_id + g) % 2 == 0,
            ),
            global_gain=(doc_id + 31 * g) % 256,
            table_select=mp3_ht_tsels(doc_id, g),
        )
        for g in (0, 1)
    ]
    # every frame is byte-identical (no reservoir, k-independent side
    # info): build one frame, repeat it — same bytes, golden-hash gated
    # (tests/test_synth_golden.py)
    return _mp3_frame(7 + doc_id % 3, 0, MP3_MONO, gr_info, w) * (2 + doc_id % 3)


# The complete 16x16-table tier: tables 13 and 15 (no linbits, t13
# validated round 14) plus BOTH linbits
# families 16-23 and 24-31 (validated round 13).  All 18 ids cycle.
MP3_LB_TABLES = (
    13, 15, 16, 17, 18, 19, 20, 21, 22, 23, 24, 25, 26, 27, 28, 29,
    30, 31,
)


def mp3_lb_table(doc_id: int, g: int) -> int:
    """Granule g's (uniform) big-values table id for the linbits
    fixture — cycles the full 18-id 16x16 tier: 13 and 15 (linbits
    0), 16-23 (table 16's codes) and 24-31 (table 24's)."""
    return MP3_LB_TABLES[(doc_id + g) % len(MP3_LB_TABLES)]


def mp3_lb_pairs(doc_id: int, g: int) -> list[tuple[int, int, int, int]]:
    """Granule g's big-values pairs as (x, y, ex_x, ex_y) closed
    forms: pair q has x = (doc + 3q + g) % 16, y = (2 doc + q + g)
    % 16 — the full 16x16 grid, so x or y lands on the ESC value 15
    in ~1/8 of pairs — and, when the granule's table carries linbits
    L, an escaped coordinate is extended by ex = (doc + 2q + g) %
    2^L (x) / (doc + 3q + 2g + 1) % 2^L (y), making the transmitted
    magnitude 15 + ex."""
    from .decode import MP3_LINBITS

    lb = MP3_LINBITS.get(mp3_lb_table(doc_id, g), 0)
    out = []
    for q in range(3 + (doc_id + g) % 4):
        x = (doc_id + 3 * q + g) % 16
        y = (2 * doc_id + q + g) % 16
        ex_x = (doc_id + 2 * q + g) % (1 << lb) if lb and x == 15 else 0
        ex_y = (
            (doc_id + 3 * q + 2 * g + 1) % (1 << lb)
            if lb and y == 15 else 0
        )
        out.append((x, y, ex_x, ex_y))
    return out


def make_mp3_lb_bytes(doc_id: int) -> bytes:
    """MPEG-1 Layer III stream exercising the COMPLETE 16x16 B.7
    tier: granule regions cycle all 18 ids — 13 and 15 (no linbits)
    plus both linbits families 16-23 and 24-31 (``mp3_lb_table``) —
    so escaped coordinates (a decoded 15) are
    extended by the table's raw linbits field before their sign bit —
    the 2.4.2.7 order code, linbits-x, sign-x, linbits-y, sign-y.
    CBR 44.1 kHz frames (96/112/128 kbps), ``main_data_begin = 0``,
    scfsi 0, both granules long-block with uniform table_select
    (region boundaries never dispatched), count1 always fixed-length
    table B.  Every value is a closed form the SQL oracle restates;
    ``part2_3_length`` is the exact bit count, so one wrong code or a
    missed linbits read desyncs the stream and fails accounting."""
    w = MsbWriter()
    gr_info = []
    for g in (0, 1):
        t = mp3_lb_table(doc_id, g)
        # an escaped coordinate's magnitude is 15 + its linbits extension
        pairs = [(t, x + ex_x, y + ex_y)
                 for x, y, ex_x, ex_y in mp3_lb_pairs(doc_id, g)]
        gr_info.append(dict(
            _mp3_table_granule(w, doc_id, g, MP3_SF_LONG, pairs,
                               2 + (doc_id + g) % 3),
            global_gain=(doc_id + 31 * g) % 256,
            table_select=(t, t, t),
        ))
    # identical frames: build once, repeat (bytes unchanged)
    return _mp3_frame(7 + doc_id % 3, 0, MP3_MONO, gr_info, w) * (2 + doc_id % 3)


def mp3_imdct_block_type(doc_id: int, g: int) -> int:
    """Granule g's block_type for the filterbank fixture: cycles
    normal long (0), start (1), short (2), and stop (3) windows."""
    return (doc_id + 2 * g) % 4


def mp3_imdct_mixed(doc_id: int, g: int) -> bool:
    """Every other short granule is MIXED: subbands 0-1 long under
    the normal window, subbands 2+ short — the 2.4.3.4.6 hybrid."""
    return mp3_imdct_block_type(doc_id, g) == 2 and (doc_id + g) % 2 == 1


def mp3_imdct_geometry(doc_id: int, g: int) -> tuple[int, int, int, int]:
    """(region0_count, region0_pairs, n_live_pairs, n_quads) for the
    filterbank fixture's granule g.  For long granules region0 spans
    the first ``region0_pairs`` = B.8[rc+1] // 2 pairs and uses
    TABLE 0 — an all-zero region that transmits no bits — which
    pushes the live ±1 lines into higher subbands so the
    alias-reduction butterflies at the subband boundaries do real
    mixing.  Window-switching granules (block_type 1/2/3) have the
    IMPLIED region0 of 18 pairs (36 samples), silent via table 0
    here, so their lines start at position 36."""
    rc = 1 + (doc_id + g) % 15
    from .decode import MP3_SFB_LONG_44100

    r0_pairs = (
        MP3_SFB_LONG_44100[rc + 1] // 2
        if mp3_imdct_block_type(doc_id, g) == 0 else 18
    )
    nbv = 9 + (doc_id + g) % 7
    if mp3_imdct_mixed(doc_id, g):
        # mixed granules carry LIVE pairs in region0 too (the long
        # part): the pair index runs straight through both regions
        nbv += 18
        r0_pairs = 0
    return (
        rc,
        r0_pairs,
        nbv,
        3 + (doc_id + g) % 3,
    )


def mp3_imdct_spectrum(doc_id: int, g: int) -> dict[int, int]:
    """Granule g's nonzero requantized lines (position -> ±1) —
    closed forms the SQL oracle restates.  Unit magnitudes make
    requantization EXACT (|±1|^(4/3) = 1, global_gain 210 -> 2^0).
    For block_type 2 granules the positions are POST-REORDER subband
    order (the scalefactor-band -> subband reorder belongs to the
    general requantization layer, which stays a declared boundary)."""
    _rc, r0_pairs, nbv, nq = mp3_imdct_geometry(doc_id, g)
    base = 2 * r0_pairs
    out = {}
    for q in range(nbv):
        if (doc_id + 3 * q + g) % 2:
            out[base + 2 * q] = (
                1 if (doc_id + q + g) % 2 == 0 else -1
            )
        if (2 * doc_id + q + g) % 2:
            out[base + 2 * q + 1] = (
                1 if (doc_id + q + g + 1) % 2 == 0 else -1
            )
    c1_base = base + 2 * nbv
    for j in range(nq):
        pattern = (doc_id + 5 * g + j) % 16
        neg = (doc_id + j) % 2
        for idx, shift in enumerate((3, 2, 1, 0)):
            if (pattern >> shift) & 1:
                out[c1_base + 4 * j + idx] = -1 if neg else 1
    return out


def make_mp3_imdct_bytes(doc_id: int) -> bytes:
    """Single-frame MPEG-1 Layer III stream for the hybrid synthesis
    filterbank: 44.1 kHz 128 kbps, main_data_begin 0, scfsi 0, both
    granules long-block with global_gain 210 (the 2^0 requantization
    point), scalefac_compress 0 (slen 0/0 — zero scalefactor bits),
    preflag/scalefac_scale 0, and tsels (0, 1, 1): region0 is the
    silent table-0 span, regions 1-2 carry ``mp3_imdct_spectrum``'s
    ±1 pairs through B.7 table 1, then count1 table B quadruples.
    Every quantized value is 0 or ±1, so the requantized spectrum IS
    the integer level array and the filterbank runs integer-exact."""
    w = MsbWriter()
    gr_info = []
    for g in (0, 1):
        rc, r0_pairs, nbv, nq = mp3_imdct_geometry(doc_id, g)
        bt = mp3_imdct_block_type(doc_id, g)
        if bt == 0:
            # regions 1+2 must hold all live pairs; region2 stays empty
            _r0, rc2 = _mp3_live_region(rc, nbv)
            side = dict(table_select=(0, 1, 1), region0_count=rc,
                        region1_count=rc2)
        else:
            # mixed: region0 (the long part) is LIVE table 1; other ws
            # granules keep it silent via table 0
            mixed = mp3_imdct_mixed(doc_id, g)
            side = dict(table_select=(1, 1) if mixed else (0, 1),
                        block_type=bt, mixed_block_flag=int(mixed))
        start = w.tell()
        _mp3_put_pairs(w, [
            (1, (doc_id + 3 * q + g) % 2, (2 * doc_id + q + g) % 2)
            for q in range(nbv)
        ], doc_id + g)
        _mp3_put_quads(w, _mp3_c1_quads(doc_id, g, nq))
        gr_info.append(dict(
            side, part2_3_length=w.tell() - start,
            big_values=r0_pairs + nbv,
            global_gain=210,       # exact 2^0
            scalefac_compress=0,   # slen 0/0: no scalefactor bits
        ))
    return _mp3_frame(9, 0, MP3_MONO, gr_info, w)  # 128 kbps, 44.1 kHz


def mp3_rq_fields(doc_id: int, g: int) -> tuple[int, int, int, int, int]:
    """(rc, global_gain, scalefac_scale, sf_a, sf_b) for the
    requantization fixture's granule g: gains sweep the 198..222
    exactness band, scalefac_scale alternates (half-step vs full-step
    scalefactor exponents), and the scalefactor values are capped so
    the half-step index 2*mult*sf stays inside the derived Q14
    table."""
    rc = 1 + (doc_id + g) % 15
    gg = 198 + (doc_id + 5 * g) % 25
    sfs = (doc_id + g) % 2
    sl1, sl2 = MP3_SLEN[(doc_id + g) % 16]
    cap = 8 if sfs else 16
    sf_a = (doc_id + g) % min(1 << sl1, cap) if sl1 else 0
    sf_b = (doc_id + 7 + g) % min(1 << sl2, cap) if sl2 else 0
    return rc, gg, sfs, sf_a, sf_b


def mp3_rq_spectrum(doc_id: int, g: int) -> dict[int, int]:
    """The requantization fixture's nonzero QUANTIZED lines
    (position -> signed level, magnitudes 0..7 through B.7 table 10):
    nbv pairs at positions B.8[rc+1] + 2q, then count1 ±1 quads."""
    rc, *_ = mp3_rq_fields(doc_id, g)
    from .decode import MP3_SFB_LONG_44100

    base = MP3_SFB_LONG_44100[rc + 1]
    nbv = 9 + (doc_id + g) % 7
    nq = 3 + (doc_id + g) % 3
    out = {}
    for q in range(nbv):
        x = (doc_id + 3 * q + g) % 8
        y = (2 * doc_id + q + g) % 8
        if x:
            out[base + 2 * q] = x if (doc_id + q + g) % 2 == 0 else -x
        if y:
            out[base + 2 * q + 1] = (
                y if (doc_id + q + g + 1) % 2 == 0 else -y
            )
    c1_base = base + 2 * nbv
    for j in range(nq):
        pattern = (doc_id + 5 * g + j) % 16
        neg = (doc_id + j) % 2
        for idx, shift in enumerate((3, 2, 1, 0)):
            if (pattern >> shift) & 1:
                out[c1_base + 4 * j + idx] = -1 if neg else 1
    return out


def mp3_rqw_spectrum(doc_id: int, g: int) -> dict[int, int]:
    """The WIDE requantization fixture's nonzero quantized lines
    (position -> signed level, magnitudes 0..15 through B.7 table
    15): nbv pairs at positions B.8[rc+1] + 2q, then count1 quads."""
    rc, *_ = mp3_rq_fields(doc_id, g)
    from .decode import MP3_SFB_LONG_44100

    base = MP3_SFB_LONG_44100[rc + 1]
    nbv = 9 + (doc_id + g) % 7
    nq = 3 + (doc_id + g) % 3
    out = {}
    for q in range(nbv):
        x = (doc_id + 3 * q + g) % 16
        y = (2 * doc_id + q + g) % 16
        if x:
            out[base + 2 * q] = x if (doc_id + q + g) % 2 == 0 else -x
        if y:
            out[base + 2 * q + 1] = (
                y if (doc_id + q + g + 1) % 2 == 0 else -y
            )
    c1_base = base + 2 * nbv
    for j in range(nq):
        pattern = (doc_id + 5 * g + j) % 16
        neg = (doc_id + j) % 2
        for idx, shift in enumerate((3, 2, 1, 0)):
            if (pattern >> shift) & 1:
                out[c1_base + 4 * j + idx] = -1 if neg else 1
    return out


def _mp3_rq_bytes(doc_id: int, tables: tuple[int, int], mags) -> bytes:
    """The single-frame long-block requantization fixture behind
    ``make_mp3_rq_bytes`` / ``_rqw_`` / ``_rqe_``: 44.1 kHz 128 kbps,
    granule g per ``mp3_rq_fields``, region0 the silent table-0 span up
    to B.8[rc + 1], then 9 + (doc + g) % 7 pairs of magnitudes
    ``mags(g, q)`` through table ``tables[g]`` and table-B count1
    quadruples."""
    w = MsbWriter()
    gr_info = []
    for g in (0, 1):
        rc, gg, sfs, sf_a, sf_b = mp3_rq_fields(doc_id, g)
        sfc = (doc_id + g) % 16
        nbv = 9 + (doc_id + g) % 7
        r0_pairs, rc2 = _mp3_live_region(rc, nbv)
        t = tables[g]
        start = w.tell()
        _mp3_put_scalefacs(w, sfc, MP3_SF_LONG, sf_a, sf_b)
        _mp3_put_pairs(w, [(t, *mags(g, q)) for q in range(nbv)], doc_id + g)
        _mp3_put_quads(w, _mp3_c1_quads(doc_id, g, 3 + (doc_id + g) % 3))
        gr_info.append(dict(
            part2_3_length=w.tell() - start, big_values=r0_pairs + nbv,
            global_gain=gg, scalefac_compress=sfc, table_select=(0, t, t),
            region0_count=rc, region1_count=rc2, scalefac_scale=sfs,
        ))
    return _mp3_frame(9, 0, MP3_MONO, gr_info, w)


def make_mp3_rqw_bytes(doc_id: int) -> bytes:
    """Single-frame MPEG-1 Layer III stream for WIDE exact
    requantization: identical geometry to ``make_mp3_rq_bytes`` but
    the big-values region runs through the round-13-validated 16x16
    B.7 table 15 with magnitudes 0..15 — the full non-escape range —
    so the extended |is|^(4/3) Q12 table does real work at every
    index."""
    return _mp3_rq_bytes(doc_id, (15, 15), lambda g, q: (
        (doc_id + 3 * q + g) % 16, (2 * doc_id + q + g) % 16
    ))


# The escape-requantization fixture's granule table cycle: linbits
# tables 24 (lb 4), 23 (lb 13, table 16's codes), 22 (lb 10) plus
# the non-escape 16x16 table 15 — so escape magnitudes flow into the
# exact requantization path.  Magnitudes are capped at 1024 (well
# under table 23's 8206 ceiling) to keep the summed Q12*Q12*Q14
# products comfortably inside the int64 output contract; the wide
# |is|^(4/3) derivation itself is exactness-tested over the FULL
# 0..8206 range in tests/test_multimodal.py.
MP3_RQE_TABLES = (24, 23, 22, 15)


def mp3_rqe_table(doc_id: int, g: int) -> int:
    """Granule g's (uniform) big-values table id for the ESCAPE
    requantization fixture."""
    return MP3_RQE_TABLES[(doc_id + g) % 4]


def _mp3_rqe_mod(tsel: int) -> int:
    from .decode import MP3_LINBITS

    lb = MP3_LINBITS.get(tsel, 0)
    return min(15 + (1 << lb), 1024) if lb else 16


def mp3_rqe_spectrum(doc_id: int, g: int) -> dict[int, int]:
    """The ESCAPE requantization fixture's nonzero quantized lines
    (position -> signed level): nbv pairs at positions B.8[rc+1]+2q
    whose magnitudes m_x = (37 doc + 113 q + 61 g) % M / m_y =
    (53 doc + 97 q + 29 g + 17) % M sweep past 15 into linbits
    territory (M = min(15 + 2^linbits, 1024)), then count1 quads."""
    rc, *_ = mp3_rq_fields(doc_id, g)
    from .decode import MP3_SFB_LONG_44100

    base = MP3_SFB_LONG_44100[rc + 1]
    nbv = 9 + (doc_id + g) % 7
    nq = 3 + (doc_id + g) % 3
    m = _mp3_rqe_mod(mp3_rqe_table(doc_id, g))
    out = {}
    for q in range(nbv):
        mx = (37 * doc_id + 113 * q + 61 * g) % m
        my = (53 * doc_id + 97 * q + 29 * g + 17) % m
        if mx:
            out[base + 2 * q] = mx if (doc_id + q + g) % 2 == 0 else -mx
        if my:
            out[base + 2 * q + 1] = (
                my if (doc_id + q + g + 1) % 2 == 0 else -my
            )
    c1_base = base + 2 * nbv
    for j in range(nq):
        pattern = (doc_id + 5 * g + j) % 16
        neg = (doc_id + j) % 2
        for idx, shift in enumerate((3, 2, 1, 0)):
            if (pattern >> shift) & 1:
                out[c1_base + 4 * j + idx] = -1 if neg else 1
    return out


def make_mp3_rqe_bytes(doc_id: int) -> bytes:
    """Single-frame MPEG-1 Layer III stream for ESCAPE-magnitude
    exact requantization: identical geometry to ``make_mp3_rqw_bytes``
    but the big-values region cycles the linbits tables
    ``MP3_RQE_TABLES`` and transmits magnitudes >= 15 as the ESC code
    15 plus a raw linbits extension (2.4.2.7), so requantization must
    evaluate |is|^(4/3) far beyond the 16-entry table."""
    tables = (mp3_rqe_table(doc_id, 0), mp3_rqe_table(doc_id, 1))
    mods = [_mp3_rqe_mod(t) for t in tables]
    return _mp3_rq_bytes(doc_id, tables, lambda g, q: (
        (37 * doc_id + 113 * q + 61 * g) % mods[g],
        (53 * doc_id + 97 * q + 29 * g + 17) % mods[g],
    ))


def make_mp3_rq_bytes(doc_id: int) -> bytes:
    """Single-frame MPEG-1 Layer III stream for EXACT general
    requantization: long-block granules whose scalefactors are REAL
    (slen-coded under scalefac_compress = (doc+g) % 16, both
    scalefac_scale modes), global_gain sweeps 198..222, and the
    big-values region carries magnitudes 0..7 through B.7 table 10 —
    so |is|^(4/3), 2^((gain-210)/4), and the per-band 2^(-mult*sf)
    factors all do real work.  preflag stays 0 (Table B.6's pretab is
    an empirical table with no self-validating structure, so it is
    excluded rather than shipped unvalidated)."""
    return _mp3_rq_bytes(doc_id, (10, 10), lambda g, q: (
        (doc_id + 3 * q + g) % 8, (2 * doc_id + q + g) % 8
    ))


def mp3_ms_fields(
    doc_id: int, g: int, ch: int
) -> tuple[int, int, int, int, int, int, int]:
    """(rc, global_gain, scalefac_scale, sf_a base, sf_b base, nbv,
    nq) for channel ch of the MS joint-stereo fixture's granule g —
    the long-block requant closed forms keyed by k = doc + g + 5*ch
    so the mid and side spectra genuinely differ."""
    k = doc_id + g + 5 * ch
    return (
        1 + k % 15,
        198 + (doc_id + 5 * g + 7 * ch) % 25,
        k % 2,
        k,
        k + 7,
        9 + k % 7,
        3 + k % 3,
    )


def mp3_ms_spectrum(doc_id: int, g: int, ch: int) -> dict[int, int]:
    """Channel ch's nonzero quantized lines (table-10 magnitudes) for
    the MS fixture, positions from B.8[rc+1]."""
    from .decode import MP3_SFB_LONG_44100

    rc, _gg, _sfs, _a, _b, nbv, nq = mp3_ms_fields(doc_id, g, ch)
    base = MP3_SFB_LONG_44100[rc + 1]
    k = doc_id + g + 5 * ch
    out = {}
    for q in range(nbv):
        x = (k + 3 * q) % 8
        y = (2 * k + q) % 8
        if x:
            out[base + 2 * q] = x if (k + q) % 2 == 0 else -x
        if y:
            out[base + 2 * q + 1] = y if (k + q + 1) % 2 == 0 else -y
    c1 = base + 2 * nbv
    for j in range(nq):
        pattern = (k + 5 * j) % 16
        neg = (k + j) % 2
        for idx, shift in enumerate((3, 2, 1, 0)):
            if (pattern >> shift) & 1:
                out[c1 + 4 * j + idx] = -1 if neg else 1
    return out


def _mp3_stereo_granule(
    w: MsbWriter, k: int, rc: int, gg: int, sfs: int, base_a: int,
    base_b: int, nbv: int, nq: int, preflag: int = 0,
) -> dict:
    """One long-block table-10 channel granule of the joint-stereo
    fixtures, keyed by k (``mp3_ms_fields`` / ``mp3_is_fields``):
    scalefactors base mod min(2^slen, 8 or 16) under scalefac_compress
    k % 16, pairs ((k + 3q) % 8, (2k + q) % 8) after the silent region0,
    and count1 quadruples ((k + 5j) % 16, sign (k + j) % 2).  Writes
    the main data to w and returns the side-info fields."""
    sl1, sl2 = MP3_SLEN[k % 16]
    cap = 8 if sfs else 16
    r0_pairs, rc2 = _mp3_live_region(rc, nbv)
    start = w.tell()
    _mp3_put_scalefacs(w, k % 16, MP3_SF_LONG, base_a % min(1 << sl1, cap),
                       base_b % min(1 << sl2, cap))
    _mp3_put_pairs(w, [(10, (k + 3 * q) % 8, (2 * k + q) % 8)
                       for q in range(nbv)], k)
    _mp3_put_quads(w, [((k + 5 * j) % 16, (k + j) % 2) for j in range(nq)])
    return dict(
        part2_3_length=w.tell() - start, big_values=r0_pairs + nbv,
        global_gain=gg, scalefac_compress=k % 16, table_select=(0, 10, 10),
        region0_count=rc, region1_count=rc2, preflag=preflag,
        scalefac_scale=sfs,
    )


def make_mp3_ms_bytes(doc_id: int) -> bytes:
    """Single-frame JOINT-STEREO MPEG-1 Layer III stream with MS
    stereo on (header mode 01, mode_extension 10): a 32-byte stereo
    side info (granule-major, channel-minor), per-channel long-block
    granules with real slen-coded scalefactors, gains in the 198..222
    band, and table-10 spectra whose mid and side lines differ — the
    layer that forces a decoder to run the (M±S)/sqrt(2) matrix."""
    w = MsbWriter()
    gr_info = [
        _mp3_stereo_granule(w, doc_id + g + 5 * ch,
                            *mp3_ms_fields(doc_id, g, ch))
        for g in (0, 1)
        for ch in (0, 1)
    ]
    return _mp3_frame(9, 0, MP3_JOINT_MS, gr_info, w)  # 128 kbps, 44.1 kHz


def mp3_is_fields(
    doc_id: int, g: int
) -> tuple[int, int, int, int, int, int, int, int]:
    """(rc, global_gain, scalefac_scale, preflag, sf_a base, sf_b
    base, nbv, nq) of the intensity fixture's LEFT channel, granule
    g, keyed by k = doc + 7*g."""
    k = doc_id + 7 * g
    return (
        1 + k % 15,
        198 + (doc_id + 5 * g) % 25,
        k % 2,
        (doc_id + g) % 2,
        k,
        k + 7,
        9 + k % 7,
        3 + k % 3,
    )


def mp3_is_pos(doc_id: int, g: int, band: int) -> int:
    """The right channel's per-band intensity position (0..7; 7 =
    intensity off for the band)."""
    return (doc_id + g + band) % 8


def make_mp3_is_bytes(doc_id: int) -> bytes:
    """Single-frame JOINT-STEREO MPEG-1 Layer III stream with
    INTENSITY stereo on (header mode 01, mode_extension 01): the
    left channel carries real long-block granules (table-10 spectra,
    slen-coded scalefactors, PREFLAG set on alternating granules so
    Table B.6's pretab joins the exponent); the right channel
    carries NO spectral data — big_values 0, part2_3_length exactly
    its 21 3-bit scalefactors (scalefac_compress 13), which code the
    per-band intensity positions is_pos = (doc + g + band) %% 8,
    including 7s (intensity off).  The whole spectrum is therefore
    the intensity region and every left line splits L/R by the
    derived Q15 tan-ratio table."""
    w = MsbWriter()
    gr_info = []
    for g in (0, 1):
        rc, gg, sfs, pre, base_a, base_b, nbv, nq = mp3_is_fields(doc_id, g)
        gr_info.append(_mp3_stereo_granule(
            w, doc_id + 7 * g, rc, gg, sfs, base_a, base_b, nbv, nq,
            preflag=pre,
        ))
        # right channel: scalefac_compress 13 -> slen (3, 3), the 21
        # scalefactors are the intensity positions; no spectral data
        start = w.tell()
        _mp3_put_scalefacs(w, 13, MP3_SF_LONG,
                           lambda i: mp3_is_pos(doc_id, g, i),
                           lambda i: mp3_is_pos(doc_id, g, 11 + i))
        gr_info.append(dict(
            part2_3_length=w.tell() - start, big_values=0,
            global_gain=210,  # no data to scale
            scalefac_compress=13, table_select=(0, 0, 0),
        ))
    return _mp3_frame(9, 0, MP3_JOINT_IS, gr_info, w)  # 128 kbps, 44.1 kHz


def mp3_rqs_fields(
    doc_id: int, g: int
) -> tuple[int, int, tuple, int, int]:
    """(global_gain, scalefac_scale, subblock_gains, sf_a cap'd
    modulus base, sf_b base) for the SHORT-block requantization
    fixture's granule g — the per-window scalefactor is
    (base + w) % min(2^slen, cap)."""
    gg = 198 + (doc_id + 5 * g) % 25
    sfs = (doc_id + g) % 2
    ssg = tuple((doc_id + g + w) % 3 for w in range(3))
    return gg, sfs, ssg, doc_id + g, doc_id + 7 + g


def mp3_rqs_spectrum(doc_id: int, g: int) -> dict[int, int]:
    """The short-requant granule's nonzero quantized lines: region0
    (the implied 36-sample split) is silent via table 0, then nbv
    table-10 pairs and ±1 count1 quads — same value closed forms as
    the long fixture, positions offset by 36."""
    nbv = 9 + (doc_id + g) % 7
    nq = 3 + (doc_id + g) % 3
    out = {}
    for q in range(nbv):
        x = (doc_id + 3 * q + g) % 8
        y = (2 * doc_id + q + g) % 8
        if x:
            out[36 + 2 * q] = x if (doc_id + q + g) % 2 == 0 else -x
        if y:
            out[36 + 2 * q + 1] = (
                y if (doc_id + q + g + 1) % 2 == 0 else -y
            )
    base = 36 + 2 * nbv
    for j in range(nq):
        pattern = (doc_id + 5 * g + j) % 16
        neg = (doc_id + j) % 2
        for idx, shift in enumerate((3, 2, 1, 0)):
            if (pattern >> shift) & 1:
                out[base + 4 * j + idx] = -1 if neg else 1
    return out


def make_mp3_rqs_bytes(doc_id: int) -> bytes:
    """Single-frame stream for SHORT-BLOCK exact requantization: both
    granules window-switching block_type 2 (non-mixed) with REAL
    per-window scalefactors (6 bands under slen1 then 6 under slen2,
    each x3 windows), nonzero subblock_gain (exact powers of two:
    half-step index 4*ssg), the implied two-region split at sample
    36, and table-10 magnitudes 0..7 — so the short band/window
    mapping decides every line's exponent."""
    w = MsbWriter()
    gr_info = []
    for g in (0, 1):
        gg, sfs, ssg, base_a, base_b = mp3_rqs_fields(doc_id, g)
        sfc = (doc_id + g) % 16
        sl1, sl2 = MP3_SLEN[sfc]
        cap = 8 if sfs else 16
        nbv = 9 + (doc_id + g) % 7
        start = w.tell()
        # scalefactor i is band i // 3, window i % 3
        _mp3_put_scalefacs(w, sfc, MP3_SF_SHORT,
                           lambda i: (base_a + i % 3) % min(1 << sl1, cap),
                           lambda i: (base_b + i % 3) % min(1 << sl2, cap))
        _mp3_put_pairs(w, [
            (10, (doc_id + 3 * q + g) % 8, (2 * doc_id + q + g) % 8)
            for q in range(nbv)
        ], doc_id + g)
        _mp3_put_quads(w, _mp3_c1_quads(doc_id, g, 3 + (doc_id + g) % 3))
        gr_info.append(dict(
            part2_3_length=w.tell() - start,
            big_values=18 + nbv,  # silent region0 + live pairs
            global_gain=gg, scalefac_compress=sfc, table_select=(0, 10),
            block_type=2, subblock_gain=ssg, scalefac_scale=sfs,
        ))
    return _mp3_frame(9, 0, MP3_MONO, gr_info, w)  # 128 kbps, 44.1 kHz


# Ogg page CRC-32 (RFC 3533 6.): polynomial 0x04c11db7, no reflection,
# zero init and xorout — NOT the zlib CRC, a detail page walkers trip
# over.  Steps ``_CRC32_TABLE`` (below); shared by
# synth and decode through this module.
def ogg_crc(data: bytes) -> int:
    table = _CRC32_TABLE
    crc = 0
    for byte in data:
        crc = ((crc << 8) & 0xFFFFFFFF) ^ table[(crc >> 24) ^ byte]
    return crc


# RFC 6716 Table 2: samples per frame at 48 kHz by TOC config —
# SILK configs 0-11 carry 10/20/40/60 ms per 4-config band group,
# hybrid 12-15 carry 10/20 ms pairs, CELT 16-31 carry 2.5/5/10/20 ms.
def opus_samples_per_frame(config: int) -> int:
    if config < 12:
        return (480, 960, 1920, 2880)[config % 4]
    if config < 16:
        return (480, 960)[config % 2]
    return (120, 240, 480, 960)[config % 4]


def ogg_opus_params(doc_id: int) -> tuple[int, int, int]:
    """(n_audio_packets, channels, preskip)."""
    return 4 + doc_id % 5, 1 + doc_id % 2, 312 + doc_id % 50


def ogg_opus_packet_fields(doc_id: int, i: int) -> tuple[int, int, int, int]:
    """Audio packet i's (config, stereo_flag, count_code, n_frames):
    configs sweep all 32 TOC modes, the frame-count code cycles all
    four RFC 6716 packet codes (0: one frame, 1: two equal, 2: two
    different sizes, 3: signaled count)."""
    config = (doc_id + 3 * i) % 32
    stereo = (doc_id + i) % 2
    code = i % 4
    if code == 3:
        # RFC 6716 R5: a packet may not exceed 120 ms of audio
        n_frames = min(
            2 + (doc_id + i) % 3, 5760 // opus_samples_per_frame(config)
        )
    else:
        n_frames = {0: 1, 1: 2, 2: 2}[code]
    return config, stereo, code, n_frames


def _opus_packet(doc_id: int, i: int) -> bytes:
    """One self-delimiting-in-Ogg Opus packet: TOC byte, then the
    code-dependent framing (RFC 6716 3.2) around deterministic fake
    frame payloads (SILK/CELT range decoding is the declared stub —
    the container, TOC, and duration layers are what's real here)."""
    config, stereo, code, n_frames = ogg_opus_packet_fields(doc_id, i)
    toc = (config << 3) | (stereo << 2) | code
    frame = bytes(
        (doc_id + i + j) % 256 for j in range(5 + (doc_id + i) % 9)
    )
    if code == 0:
        return bytes([toc]) + frame
    if code == 1:  # two frames, equal sizes
        return bytes([toc]) + frame + frame
    if code == 2:  # two frames, first length signaled
        if (doc_id + i) % 3 == 0:
            # TWO-BYTE length form (RFC 6716 3.2.1): first frame
            # longer than 251 bytes, length = second*4 + first with
            # the lead byte in 252..255
            n1 = 252 + (doc_id + i) % 40
            first = 252 + (n1 - 252) % 4
            second = (n1 - first) // 4
            big = bytes((doc_id + i + j) % 256 for j in range(n1))
            return bytes([toc, first, second]) + big + frame
        assert len(frame) < 252
        return bytes([toc, len(frame)]) + frame + frame + b"\x01"
    # code 3: count byte (no padding, VBR off), N equal frames
    return bytes([toc, n_frames]) + frame * n_frames


def make_ogg_opus_bytes(doc_id: int) -> bytes:
    """Real Ogg-encapsulated Opus (RFC 3533 + RFC 7845): a BOS page
    carrying OpusHead, a page with OpusTags, then audio packets over
    1-2 pages — ONE packet always SPANS a page boundary via a
    255-lacing continuation (the shape naive parsers break on),
    granule positions carry the cumulative 48 kHz sample count of
    packets COMPLETED on each page, and every page closes with the
    Ogg CRC (poly 0x04c11db7, zero init/xorout — not zlib's)."""
    n_audio, channels, preskip = ogg_opus_params(doc_id)
    serial = 0x1000 + doc_id % 97

    def page(
        seq: int, header_type: int, granule: int, segments: list[bytes],
        lacing: list[int],
    ) -> bytes:
        header = bytearray()
        header += b"OggS" + bytes([0, header_type])
        header += struct.pack("<q", granule)
        header += struct.pack("<I", serial)
        header += struct.pack("<I", seq)
        header += b"\x00\x00\x00\x00"  # CRC placeholder
        header += bytes([len(lacing)]) + bytes(lacing)
        body = b"".join(segments)
        crc = ogg_crc(bytes(header) + body)
        header[22:26] = struct.pack("<I", crc)
        return bytes(header) + body

    def lace(n: int) -> list[int]:
        out = [255] * (n // 255)
        out.append(n % 255)  # a multiple of 255 ends with a 0 lacing
        return out

    head = (
        b"OpusHead" + bytes([1, channels])
        + struct.pack("<H", preskip)
        + struct.pack("<I", 48000) + struct.pack("<h", 0) + bytes([0])
    )
    tags = (
        b"OpusTags" + struct.pack("<I", 4) + b"etl!"
        + struct.pack("<I", 0)
    )
    pages = [
        page(0, 0x02, 0, [head], lace(len(head))),   # BOS
        page(1, 0x00, 0, [tags], lace(len(tags))),
    ]
    packets = [_opus_packet(doc_id, i) for i in range(n_audio)]
    samples = [
        ogg_opus_packet_fields(doc_id, i)[3]
        * opus_samples_per_frame(ogg_opus_packet_fields(doc_id, i)[0])
        for i in range(n_audio)
    ]
    # audio page 1: whole packets 0..k-1 plus the FIRST part of packet
    # k (k = n_audio // 2), continued on page 2
    k = n_audio // 2
    lac1: list[int] = []
    segs1: list[bytes] = []
    for i in range(k):
        lac1 += lace(len(packets[i]))
        segs1.append(packets[i])
    # packet k spans into the next page: RFC 3533 marks an unfinished
    # packet by ending the lacing table mid-255-run (no final < 255
    # value), so the head part must be exactly 255 bytes — build
    # packet k as a single-frame (code 0) packet longer than 255 bytes
    # and split it there
    long_frame = bytes((doc_id + 7 + j) % 256 for j in range(300))
    long_toc_fields = ogg_opus_packet_fields(doc_id, k)
    long_packet = bytes(
        [(long_toc_fields[0] << 3) | (long_toc_fields[1] << 2) | 0]
    ) + long_frame  # code 0: one frame
    packets[k] = long_packet
    samples[k] = opus_samples_per_frame(long_toc_fields[0])
    head_part, tail_part = long_packet[:255], long_packet[255:]
    lac1.append(255)
    segs1.append(head_part)
    granule1 = sum(samples[:k])  # packet k not completed here
    pages.append(page(2, 0x00, granule1, segs1, lac1))
    lac2: list[int] = [len(tail_part)]  # < 255 by construction
    segs2: list[bytes] = [tail_part]
    for i in range(k + 1, n_audio):
        lac2 += lace(len(packets[i]))
        segs2.append(packets[i])
    pages.append(page(3, 0x04 | 0x01, sum(samples), segs2, lac2))
    return b"".join(pages)
def ebml_vint_size(value: int) -> bytes:
    """EBML data-size vint (RFC 8794 4.): the length marker's leading
    1 sits in the first byte, the remaining bits carry the value.
    Smallest representation, 1-8 bytes."""
    for n in range(1, 9):
        if value < (1 << (7 * n)) - 1:  # all-ones is the unknown-size
            out = value | (1 << (7 * n))
            return out.to_bytes(n, "big")
    raise ValueError(f"vint overflow: {value}")


def _ebml(eid: int, payload: bytes) -> bytes:
    """One EBML element: raw ID bytes (IDs keep their marker) +
    size vint + payload."""
    id_len = (eid.bit_length() + 7) // 8
    return eid.to_bytes(id_len, "big") + ebml_vint_size(len(payload)) + payload


def _ebml_uint(eid: int, value: int) -> bytes:
    n = max(1, (value.bit_length() + 7) // 8)
    return _ebml(eid, value.to_bytes(n, "big"))


def webm_params(doc_id: int) -> tuple[int, int]:
    """(n_clusters, cluster_ts_base)."""
    return 2 + doc_id % 3, doc_id % 100


def webm_blocks(doc_id: int, c: int) -> list[tuple[int, int, int, int]]:
    """Cluster c's SimpleBlocks as (track, rel_ts, keyframe,
    payload_len) closed forms."""
    out = []
    for b in range(3 + (doc_id + c) % 4):
        out.append((
            1 + (doc_id + c + b) % 2,
            b * (doc_id % 7 + 1),
            1 if (doc_id + c + b) % 3 == 0 else 0,
            4 + (doc_id + b) % 6,
        ))
    return out


def webm_lacing(doc_id: int, c: int, b: int) -> tuple[int, list[int]]:
    """Block b of cluster c's lacing: (lace_type, frame_sizes).
    lace_type 0 = none (single frame of the block's payload_len),
    1 = Xiph, 3 = EBML, 2 = fixed — laced when (doc+c+b) % 5 == 4,
    carrying 2 + (doc+b) % 3 frames; fixed lacing repeats the block's
    payload_len, the other forms size frame f as 4 + (doc+b+f) % 6."""
    plen = 4 + (doc_id + b) % 6
    if (doc_id + c + b) % 5 != 4:
        return 0, [plen]
    n_frames = 2 + (doc_id + b) % 3
    lace = (1, 3, 2)[(doc_id + c) % 3]
    if lace == 2:  # fixed: equal sizes
        return 2, [plen] * n_frames
    return lace, [
        4 + (doc_id + b + f) % 6 for f in range(n_frames)
    ]


def id3_fields(doc_id: int) -> tuple[int, str, str, str, int, int]:
    """(version, title, artist, album, track, year) closed forms."""
    return (
        3 + doc_id % 2,
        f"Title {doc_id}",
        f"Artist {doc_id % 100}",
        f"Album {doc_id % 50}",
        1 + doc_id % 20,
        1970 + doc_id % 55,
    )


def make_mp3_id3_bytes(doc_id: int) -> bytes:
    """An ID3v2.3 or ID3v2.4 tag (version by doc parity) followed by
    one real MP3 frame: the tag carries TIT2/TPE1/TALB text frames
    whose encodings cycle Latin-1 / UTF-16-with-BOM / (v2.4) UTF-8,
    TRCK as 'n/20', the version-appropriate year frame (TYER vs
    TDRC), and one PRIV frame a tag reader must skip by size.  Frame
    sizes are plain big-endian under v2.3 but SYNCSAFE under v2.4 —
    the classic reader bug — and the tag ends with closed-form
    padding."""
    ver, title, artist, album, track, year = id3_fields(doc_id)

    def text_frame(fid: bytes, value: str, enc: int) -> bytes:
        if enc == 0:
            body = bytes((0,)) + value.encode("latin-1")
        elif enc == 1:
            body = bytes((1,)) + b"\xff\xfe" + value.encode("utf-16-le")
        else:
            body = bytes((3,)) + value.encode("utf-8")
        size = len(body)
        if ver == 4:  # syncsafe frame size
            raw_size = bytes(
                (size >> s) & 0x7F for s in (21, 14, 7, 0)
            )
        else:
            raw_size = size.to_bytes(4, "big")
        return fid + raw_size + b"\x00\x00" + body

    encs = [0, 1, 3 if ver == 4 else 0]
    frames = b"".join(
        (
            text_frame(b"TIT2", title, encs[doc_id % 3]),
            text_frame(b"TPE1", artist, encs[(doc_id + 1) % 3]),
            text_frame(b"TALB", album, encs[(doc_id + 2) % 3]),
            text_frame(b"TRCK", f"{track}/20", 0),
            text_frame(
                b"TYER" if ver == 3 else b"TDRC",
                str(year) if ver == 3 else f"{year}-01-02",
                0,
            ),
        )
    )
    priv = b"PRIV"
    pbody = b"com.example\x00" + bytes((doc_id % 256,)) * (doc_id % 7)
    if ver == 4:
        priv += bytes((len(pbody) >> s) & 0x7F for s in (21, 14, 7, 0))
    else:
        priv += len(pbody).to_bytes(4, "big")
    priv += b"\x00\x00" + pbody
    frames += priv
    padding = 10 + doc_id % 30
    tag_size = len(frames) + padding
    hdr = b"ID3" + bytes((ver, 0, 0)) + bytes(
        (tag_size >> s) & 0x7F for s in (21, 14, 7, 0)
    )
    audio = make_mp3_imdct_bytes(doc_id)
    return hdr + frames + bytes(padding) + audio


def make_mp3_id3v1_bytes(doc_id: int) -> bytes:
    """The double-tagged legacy layout real MP3 collections carry: an
    ID3v2 tag + audio (``make_mp3_id3_bytes``) CLOSED by a 128-byte
    ID3v1.1 trailer — 'TAG', NUL-padded title/artist/album (30 bytes
    each, the same closed-form values as the v2 frames), a 4-digit
    year, a 28-byte comment + NUL + track byte (the v1.1 split), and
    a genre byte doc %% 80."""
    ver, title, artist, album, track, year = id3_fields(doc_id)

    def pad30(s: str) -> bytes:
        b = s.encode("latin-1")[:30]
        return b + bytes(30 - len(b))

    comment = f"c{doc_id % 10}".encode("latin-1")
    tag = (
        b"TAG"
        + pad30(title)
        + pad30(artist)
        + pad30(album)
        + str(year).encode()[:4]
        + comment + bytes(28 - len(comment))
        + bytes((0, track))
        + bytes((doc_id % 80,))
    )
    assert len(tag) == 128
    return make_mp3_id3_bytes(doc_id) + tag


# VP8L code-length-code order (the WebP lossless spec's constant)
VP8L_CL_ORDER = (
    17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15,
)


def _vp8l_prefix(value: int) -> tuple[int, int, int]:
    """LZ77 prefix coding (WebP lossless spec): value >= 1 ->
    (prefix_code, extra_bits_value, extra_bits_count)."""
    if value < 5:
        return value - 1, 0, 0
    v = value - 1
    extra = v.bit_length() - 2
    offset = (2 + ((v >> extra) & 1)) << extra
    return 2 * extra + ((v >> extra) & 1) + 2, v - offset, extra


def webp_vp8l_params(doc_id: int) -> tuple[int, int, int, int, int]:
    """(width, height, backref_distance, backref_len, n_cache_pixels)
    closed forms.  Every third doc uses a color cache: C pixels
    repeating pixel 0 sit between the literals and the backref, and
    the distance grows so the backref still sources pure literals."""
    cc = doc_id % 3 == 0
    return (
        8 + doc_id % 9,
        6 + doc_id % 7,
        10 + doc_id % 5 if cc else 5 + doc_id % 10,
        3 + doc_id % 3,
        2 + doc_id % 3 if cc else 0,
    )


def webp_green(doc_id: int, p: int) -> int:
    """Green literal value of pixel p."""
    return 64 + (doc_id + 3 * p) % 4


def webp_red_blue(doc_id: int) -> tuple[int, int]:
    """The red/blue constants: subtract-green docs keep them in
    [80, 250) so the transformed chroma symbols sit at clean
    zero-run offsets in the length stream."""
    if doc_id % 2 == 1:
        return 80 + (doc_id * 3) % 170, 80 + (doc_id * 5) % 170
    return (doc_id * 3) % 256, (doc_id * 5) % 256


def make_webp_vp8l_bytes(doc_id: int) -> bytes:
    """A REAL WebP lossless image (RIFF/WEBP/VP8L): the 0x2F
    signature, 14-bit dimensions, no transforms, no color cache, a
    NORMAL (code-length-coded) green tree — its 280-symbol length
    array written with repeat-zero-run symbols and terminated by the
    Kraft-budget early stop, exactly libwebp's convention — SIMPLE
    1-symbol red/blue/alpha/distance trees, row-major green literals,
    and one LZ77 backref of ``backref_len`` pixels at a DIRECT
    distance (plane codes > 120).  Red/blue are per-doc constants,
    alpha 255."""
    w_px, h_px, dist, mlen = webp_vp8l_params(doc_id)[:4]
    n_cache = webp_vp8l_params(doc_id)[4]
    sub_green = doc_id % 2 == 1
    cache_bits = 8 if n_cache else 0
    n_px = w_px * h_px
    n_lit = n_px - mlen - n_cache
    len_prefix, len_extra, len_extra_n = _vp8l_prefix(mlen)
    dist_prefix, dist_extra, dist_extra_n = _vp8l_prefix(dist + 120)
    red, blue = webp_red_blue(doc_id)

    w = LsbWriter()
    w.put(0x2F, 8)            # VP8L signature
    w.put(w_px - 1, 14)
    w.put(h_px - 1, 14)
    w.put(0, 1)               # alpha_is_used hint
    w.put(0, 3)               # version
    if sub_green:
        w.put(1, 1)           # transform present
        w.put(2, 2)           # subtract-green (no payload)
    w.put(0, 1)               # end of transforms
    if n_cache:
        w.put(1, 1)
        w.put(cache_bits, 4)
    else:
        w.put(0, 1)           # no color cache
    w.put(0, 1)               # no meta-huffman

    def cache_slot(g: int) -> int:
        rr = (red - g) % 256 if sub_green else red
        bb = (blue - g) % 256 if sub_green else blue
        argb = (255 << 24) | (rr << 16) | (g << 8) | bb
        return ((0x1E35A7BD * argb) & 0xFFFFFFFF) >> (32 - cache_bits)

    # GREEN: normal tree over the literals, the length prefix, and —
    # for cache docs — pixel 0's cache symbol (complete by lengths)
    if n_cache:
        g0 = webp_green(doc_id, 0)
        cache_sym = 280 + cache_slot(g0)
        green_lengths = {
            64: 2, 65: 2, 66: 2, 67: 3, 256 + len_prefix: 4,
            cache_sym: 4,
        }
    else:
        green_lengths = {
            64: 2, 65: 2, 66: 2, 67: 3, 256 + len_prefix: 3,
        }
    # shared code-length code for every normal tree this doc emits;
    # the kOrder prefix must cover every used symbol (cache docs also
    # emit length-4 codes, kOrder idx 6)
    cl_lengths = (
        {18: 2, 2: 2, 3: 3, 4: 3, 0: 2} if n_cache
        else {18: 1, 2: 2, 3: 2}
    )
    n_cl = 7 if n_cache else 6
    cl_codes = code_book(by_length(cl_lengths))

    def put_cl(sym: int) -> None:
        c, n = cl_codes[sym]
        w.put_code(c, n)

    def put_zero_run(count: int) -> None:
        while count:
            if count < 11:
                raise ValueError("zero runs below 11 unsupported here")
            # keep any remainder >= 11 so every chunk fits symbol 18
            take = 138 if count >= 149 else (
                count if count <= 138 else count - 11
            )
            put_cl(18)
            w.put(take - 11, 7)
            count -= take

    def put_normal_tree(lengths: dict) -> None:
        """One NORMAL tree: not-simple bit, this doc's shared
        code-length code header, no max_symbol shortcut, then the
        symbol-length stream (sorted symbols, zero runs between,
        Kraft-closed — trailing zeros implied)."""
        w.put(0, 1)
        w.put(n_cl - 4, 4)
        for cl_sym in VP8L_CL_ORDER[:n_cl]:
            w.put(cl_lengths.get(cl_sym, 0), 3)
        w.put(0, 1)
        at = 0
        for sym in sorted(lengths):
            if sym > at:
                put_zero_run(sym - at)
            put_cl(lengths[sym])
            at = sym + 1

    put_normal_tree(green_lengths)

    def put_simple_tree(symbol: int) -> None:
        w.put(1, 1)           # simple code
        w.put(0, 1)           # one symbol
        if symbol < 2:
            w.put(0, 1)       # first symbol in 1 bit
            w.put(symbol, 1)
        else:
            w.put(1, 1)       # first symbol in 8 bits
            w.put(symbol, 8)

    if sub_green:
        # the transformed red/blue take four CONSECUTIVE values
        # (constant minus the four greens), coded by a normal tree
        red_lengths = {(red - 64 - j) % 256: 2 for j in range(4)}
        blue_lengths = {(blue - 64 - j) % 256: 2 for j in range(4)}
        put_normal_tree(red_lengths)
        red_codes = code_book(by_length(red_lengths))
        put_normal_tree(blue_lengths)
        blue_codes = code_book(by_length(blue_lengths))
    else:
        put_simple_tree(red)          # RED tree
        put_simple_tree(blue)         # BLUE tree
        red_codes = blue_codes = None
    put_simple_tree(255)          # ALPHA tree
    put_simple_tree(dist_prefix)  # DISTANCE tree

    green_codes = code_book(by_length(green_lengths))
    sim_cache = [None] * (1 << cache_bits) if n_cache else None

    def emit_literal(p_green: int) -> None:
        c, n = green_codes[p_green]
        w.put_code(c, n)
        if sub_green:
            c, n = red_codes[(red - p_green) % 256]
            w.put_code(c, n)
            c, n = blue_codes[(blue - p_green) % 256]
            w.put_code(c, n)
        # alpha: the 1-symbol simple code costs zero bits

    def sim_insert(p_green: int) -> None:
        if sim_cache is not None:
            sim_cache[cache_slot(p_green)] = p_green

    for p in range(n_lit):
        g = webp_green(doc_id, p)
        emit_literal(g)
        sim_insert(g)
    if n_cache:
        g0 = webp_green(doc_id, 0)
        for _ in range(n_cache):
            if sim_cache[cache_slot(g0)] == g0:
                c, n = green_codes[cache_sym]
                w.put_code(c, n)
            else:  # a colliding color evicted pixel 0: literal form
                emit_literal(g0)
            sim_insert(g0)
    c, n = green_codes[256 + len_prefix]
    w.put_code(c, n)
    w.put(len_extra, len_extra_n)
    # distance: the 1-symbol simple tree costs zero bits
    w.put(dist_extra, dist_extra_n)

    payload = w.to_bytes()
    chunk = b"VP8L" + struct.pack("<I", len(payload)) + payload
    if len(payload) % 2:
        chunk += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk


def _vp8l_flat_lengths(n: int) -> dict:
    """A COMPLETE canonical code over symbols 0..n-1 using at most
    two adjacent lengths (2^k - n symbols at k-1 bits, the rest at
    k): trivially Kraft-exact, so any symbol stream encodes without
    per-stream tree construction."""
    k = (n - 1).bit_length()
    if (1 << k) == n:
        return {s: k for s in range(n)}
    n_short = (1 << k) - n
    return {s: (k - 1 if s < n_short else k) for s in range(n)}


def _vp8l_put_flat_tree(w: LsbWriter, n: int) -> dict:
    """Write the flat complete tree over alphabet n in NORMAL form
    (code-length-code header + per-symbol lengths, closing the Kraft
    budget exactly at the last symbol) and return the encoder map
    symbol -> (code, nbits)."""
    lengths = _vp8l_flat_lengths(n)
    used = sorted(set(lengths.values()))
    if len(used) == 1:
        # a complete CL code needs two leaves; declare an unused one
        cl_lengths = {used[0]: 1, 0: 1}
    else:
        cl_lengths = {used[0]: 1, used[1]: 1}
    n_cl = max(VP8L_CL_ORDER.index(s) for s in cl_lengths) + 1
    w.put(0, 1)               # normal (not simple) form
    w.put(n_cl - 4, 4)
    for s in VP8L_CL_ORDER[:n_cl]:
        w.put(cl_lengths.get(s, 0), 3)
    w.put(0, 1)               # no max_symbol shortcut
    cl_codes = code_book(by_length(cl_lengths))
    # the flat tree uses at most two adjacent lengths, so the
    # per-symbol code-length stream is at most two RUNS of one
    # repeated 1-bit code each; emit each run as a single put of the
    # repeated (bit-reversed) pattern instead of n put_code calls —
    # bit-identical to the per-symbol loop
    runs: list[list] = []
    for s in range(n):
        c, nb = cl_codes[lengths[s]]
        if runs and runs[-1][0] == c and runs[-1][1] == nb:
            runs[-1][2] += 1
        else:
            runs.append([c, nb, 1])
    for c, nb, cnt in runs:
        rc = 0
        for _ in range(nb):  # put() is LSB-first: pre-reverse the code
            rc = (rc << 1) | (c & 1)
            c >>= 1
        # rc repeated cnt times at stride nb, as one integer
        pat = rc * (((1 << (nb * cnt)) - 1) // ((1 << nb) - 1))
        w.put(pat, nb * cnt)
    return code_book(by_length(lengths))


def _vp8l_split(p: int) -> tuple[int, int, int, int]:
    return (p >> 24) & 0xFF, (p >> 16) & 0xFF, (p >> 8) & 0xFF, p & 0xFF


def _vp8l_ct_delta(t: int, c: int) -> int:
    if t >= 128:
        t -= 256
    if c >= 128:
        c -= 256
    return (t * c) >> 5


def webp_vp8l_t_params(doc_id: int) -> tuple[int, int, int, int]:
    """(width, height, backref_len, palette_size) for the transform
    fixture."""
    return (
        8 + doc_id % 9, 6 + doc_id % 7, 3 + doc_id % 3,
        2 + doc_id % 20,
    )


def webp_vp8l_t_pixel(doc_id: int, p: int) -> tuple[int, int, int]:
    """FINAL-image (r, g, b) of pixel p on the non-palette strata
    (alpha is 255 everywhere)."""
    w_px, h_px, m, _ps = webp_vp8l_t_params(doc_id)
    if doc_id % 3 == 2 and p >= w_px * h_px - m:
        p -= w_px  # the plane-coded backref copies the row above
    return (
        (3 * doc_id + 2 * p) % 256,
        (doc_id + p) % 256,
        (5 * doc_id + p) % 256,
    )


def webp_vp8l_t_palette(doc_id: int, i: int) -> tuple[int, int, int]:
    """Palette entry i's (r, g, b) on the palette stratum."""
    return (
        (doc_id + 7 * i) % 256,
        (2 * doc_id + 9 * i) % 256,
        (3 * doc_id + 5 * i) % 256,
    )


def make_webp_vp8l_transform_bytes(doc_id: int) -> bytes:
    """A lossless WebP exercising the VP8L surface the basic fixture
    leaves out, by stratum:
      doc %% 3 == 0 — COLOR-INDEXING: a subtraction-coded palette of
        2 + doc %% 20 entries with pixel BUNDLING (8/4/2/1 indices
        per coded byte as the palette shrinks), indices
        (doc + p) %% psize;
      doc %% 3 == 1 — PREDICTOR transform (tile grid, mode
        (doc + tx + 2*ty) %% 14), plus the COLOR transform on even
        docs / SUBTRACT-GREEN on odd docs (read order = forward
        application order), META-HUFFMAN tiles (2 groups,
        checkerboard), and a declared-but-unhit color cache on
        doc %% 5 == 2;
      doc %% 3 == 2 — SUBTRACT-GREEN plus an LZ77 backref of
        3 + doc %% 3 pixels through PLANE CODE 1 ((0,1): the row
        above, distance = width).
    Every entropy code is a flat two-length complete tree, so the
    writer encodes arbitrary residuals; the decoder twin must invert
    the full transform pipeline to reproduce the closed-form final
    image."""
    w_px, h_px, m, psize = webp_vp8l_t_params(doc_id)
    n_px = w_px * h_px
    stratum = doc_id % 3
    w = LsbWriter()
    w.put(0x2F, 8)
    w.put(w_px - 1, 14)
    w.put(h_px - 1, 14)
    w.put(0, 1)               # alpha hint
    w.put(0, 3)               # version

    def emit_plain_image(pixels: list, alphabet_g: int = 280) -> None:
        """A sub-image (no meta, no cache): flat trees, all literals."""
        w.put(0, 1)           # no color cache
        g_codes = _vp8l_put_flat_tree(w, alphabet_g)
        r_codes = _vp8l_put_flat_tree(w, 256)
        b_codes = _vp8l_put_flat_tree(w, 256)
        a_codes = _vp8l_put_flat_tree(w, 256)
        _vp8l_put_flat_tree(w, 40)  # distance (unused)
        for p in pixels:
            aa, rr, gg, bb = _vp8l_split(p)
            for codes, v in (
                (g_codes, gg), (r_codes, rr), (b_codes, bb),
                (a_codes, aa),
            ):
                c, nb = codes[v]
                w.put_code(c, nb)

    if stratum == 0:
        # ---- palette stratum ----
        if psize <= 2:
            wb = 3
        elif psize <= 4:
            wb = 2
        elif psize <= 16:
            wb = 1
        else:
            wb = 0
        ppb = 1 << wb
        bits = 8 >> wb
        coded_w = (w_px + ppb - 1) >> wb
        w.put(1, 1)           # transform present
        w.put(3, 2)           # color indexing
        w.put(psize - 1, 8)
        # subtraction-coded palette entries as an entropy image
        deltas = []
        prev = (0, 0, 0, 0)
        for i in range(psize):
            rr, gg, bb = webp_vp8l_t_palette(doc_id, i)
            cur = (255, rr, gg, bb)
            deltas.append(
                ((cur[0] - prev[0]) % 256) << 24
                | ((cur[1] - prev[1]) % 256) << 16
                | ((cur[2] - prev[2]) % 256) << 8
                | ((cur[3] - prev[3]) % 256)
            )
            prev = cur
        emit_plain_image(deltas)
        w.put(0, 1)           # end of transforms
        # bundled coded image: indices packed into the green channel
        coded = []
        for y in range(h_px):
            for cx in range(coded_w):
                g = 0
                for k in range(ppb):
                    x = (cx << wb) + k
                    if x < w_px:
                        idx = (doc_id + y * w_px + x) % psize
                        g |= idx << (bits * k)
                coded.append((0 << 24) | (g << 8))
        w.put(0, 1)           # no color cache
        w.put(0, 1)           # no meta-huffman
        g_codes = _vp8l_put_flat_tree(w, 280)
        r_codes = _vp8l_put_flat_tree(w, 256)
        b_codes = _vp8l_put_flat_tree(w, 256)
        a_codes = _vp8l_put_flat_tree(w, 256)
        _vp8l_put_flat_tree(w, 40)
        for p in coded:
            aa, rr, gg, bb = _vp8l_split(p)
            for codes, v in (
                (g_codes, gg), (r_codes, rr), (b_codes, bb),
                (a_codes, aa),
            ):
                c, nb = codes[v]
                w.put_code(c, nb)
    else:
        # ---- transform / backref strata: build the FINAL image ----
        final = []
        for p in range(n_px):
            rr, gg, bb = webp_vp8l_t_pixel(doc_id, p)
            final.append((255 << 24) | (rr << 16) | (gg << 8) | bb)
        sub_green = stratum == 2 or doc_id % 2 == 1
        color_tf = stratum == 1 and doc_id % 2 == 0
        predictor = stratum == 1
        img = list(final)
        # forward pipeline in read order: SG, color, predictor
        if sub_green:
            w.put(1, 1)
            w.put(2, 2)
            img = [
                (p & 0xFF00FF00)
                | (((((p >> 16) & 0xFF) - ((p >> 8) & 0xFF)) % 256)
                   << 16)
                | (((p & 0xFF) - ((p >> 8) & 0xFF)) % 256)
                for p in img
            ]
        if color_tf:
            cbits = 2 + (doc_id + 1) % 2
            ctw = (w_px + (1 << cbits) - 1) >> cbits
            cth = (h_px + (1 << cbits) - 1) >> cbits
            ctes = []
            for ty in range(cth):
                for tx in range(ctw):
                    g2r = ((doc_id + 3 * tx + ty) * 5) % 256
                    g2b = ((2 * doc_id + tx) * 7) % 256
                    r2b = ((doc_id + ty) * 11) % 256
                    ctes.append(
                        (255 << 24) | (r2b << 16) | (g2b << 8) | g2r
                    )
            w.put(1, 1)
            w.put(1, 2)       # color transform
            w.put(cbits - 2, 3)
            emit_plain_image(ctes)
            out = []
            for i, p in enumerate(img):
                x, y = i % w_px, i // w_px
                cte = ctes[(y >> cbits) * ctw + (x >> cbits)]
                g2r = cte & 0xFF
                g2b = (cte >> 8) & 0xFF
                r2b = (cte >> 16) & 0xFF
                aa, rr, gg, bb = _vp8l_split(p)
                new_r = (rr - _vp8l_ct_delta(g2r, gg)) % 256
                new_b = (
                    bb - _vp8l_ct_delta(g2b, gg)
                    - _vp8l_ct_delta(r2b, rr)
                ) % 256
                out.append((aa << 24) | (new_r << 16) | (gg << 8) | new_b)
            img = out
        if predictor:
            pbits = 2 + doc_id % 2
            ptw = (w_px + (1 << pbits) - 1) >> pbits
            pth = (h_px + (1 << pbits) - 1) >> pbits
            modes = []
            for ty in range(pth):
                for tx in range(ptw):
                    modes.append((doc_id + tx + 2 * ty) % 14)
            w.put(1, 1)
            w.put(0, 2)       # predictor transform
            w.put(pbits - 2, 3)
            emit_plain_image([
                (255 << 24) | (mo << 8) for mo in modes
            ])
            from .decode import _vp8l_predict

            out = []
            for i, p in enumerate(img):
                x, y = i % w_px, i // w_px
                if x == 0 and y == 0:
                    pred = 0xFF000000
                elif y == 0:
                    pred = img[i - 1]
                elif x == 0:
                    pred = img[i - w_px]
                else:
                    pred = _vp8l_predict(
                        modes[(y >> pbits) * ptw + (x >> pbits)],
                        img[i - 1], img[i - w_px],
                        img[i - w_px - 1], img[i - w_px + 1],
                    )
                out.append(
                    ((((p >> 24) - (pred >> 24)) % 256) << 24)
                    | ((((p >> 16) - (pred >> 16)) % 256) << 16)
                    | ((((p >> 8) - (pred >> 8)) % 256) << 8)
                    | ((p - pred) % 256)
                )
            img = out
        w.put(0, 1)           # end of transforms
        # color cache: declared but never hit on doc % 5 == 2
        cache_bits = 4 if doc_id % 5 == 2 else 0
        if cache_bits:
            w.put(1, 1)
            w.put(cache_bits, 4)
        else:
            w.put(0, 1)
        alphabet_g = 280 + ((1 << cache_bits) if cache_bits else 0)
        meta = stratum == 1
        if meta:
            w.put(1, 1)       # meta-huffman present
            hb = 2
            w.put(hb - 2, 3)
            mw = (w_px + (1 << hb) - 1) >> hb
            mh = (h_px + (1 << hb) - 1) >> hb
            meta_px = [
                (255 << 24) | (((tx + ty) % 2) << 8)
                for ty in range(mh) for tx in range(mw)
            ]
            emit_plain_image(meta_px)
            n_groups = 2
        else:
            w.put(0, 1)
            hb = mw = 0
            n_groups = 1
        group_codes = []
        for _ in range(n_groups):
            group_codes.append((
                _vp8l_put_flat_tree(w, alphabet_g),
                _vp8l_put_flat_tree(w, 256),
                _vp8l_put_flat_tree(w, 256),
                _vp8l_put_flat_tree(w, 256),
                _vp8l_put_flat_tree(w, 40),
            ))
        n_emit = n_px - (m if stratum == 2 else 0)
        for i in range(n_emit):
            if meta:
                x, y = i % w_px, i // w_px
                grp = group_codes[
                    ((x >> hb) + (y >> hb)) % 2
                ]
            else:
                grp = group_codes[0]
            g_codes, r_codes, b_codes, a_codes, _d = grp
            aa, rr, gg, bb = _vp8l_split(img[i])
            for codes, v in (
                (g_codes, gg), (r_codes, rr), (b_codes, bb),
                (a_codes, aa),
            ):
                c, nb = codes[v]
                w.put_code(c, nb)
        if stratum == 2:
            # backref: length m through plane code 1 ((0,1) = row
            # above, distance = width)
            len_prefix, len_extra, len_extra_n = _vp8l_prefix(m)
            g_codes, _r, _b, _a, d_codes = group_codes[0]
            c, nb = g_codes[256 + len_prefix]
            w.put_code(c, nb)
            w.put(len_extra, len_extra_n)
            dist_prefix, dist_extra, dist_extra_n = _vp8l_prefix(1)
            c, nb = d_codes[dist_prefix]
            w.put_code(c, nb)
            w.put(dist_extra, dist_extra_n)

    payload = w.to_bytes()
    chunk = b"VP8L" + struct.pack("<I", len(payload)) + payload
    if len(payload) % 2:
        chunk += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk


def make_webm_bytes(doc_id: int) -> bytes:
    """Real WebM (Matroska/EBML, RFC 8794 + the Matroska element set):
    an EBML header declaring DocType webm, then one Segment holding
    Info (TimestampScale + a float64 Duration), Tracks (a VP9 video
    track and an Opus audio track with TrackNumber/TrackType/CodecID),
    a Void element (a skippable gap real muxers leave), and
    closed-form Clusters of SimpleBlocks — vint track number, 2-byte
    signed relative timestamp, flags byte with the keyframe bit, then
    the (opaque) codec payload.  Frame payload DECODE is the VP9/Opus
    stub; the element tree, vint layer, and block timing are what the
    walk proves.  Docs with doc % 4 == 1 stream the Segment AND the
    last Cluster with the UNKNOWN-size vint (RFC 8794 6.2) the way a
    live muxer does — same decoded values, different framing."""
    n_clusters, ts_base = webm_params(doc_id)

    header = _ebml(
        0x1A45DFA3,
        _ebml_uint(0x4286, 1)            # EBMLVersion
        + _ebml_uint(0x42F7, 1)          # EBMLReadVersion
        + _ebml_uint(0x42F2, 4)          # EBMLMaxIDLength
        + _ebml_uint(0x42F3, 8)          # EBMLMaxSizeLength
        + _ebml(0x4282, b"webm")         # DocType
        + _ebml_uint(0x4287, 4)          # DocTypeVersion
        + _ebml_uint(0x4285, 2),         # DocTypeReadVersion
    )
    total_ms = (
        (n_clusters - 1) * 1000 + ts_base
        + max(r for _t, r, _k, _p in webm_blocks(doc_id, n_clusters - 1))
    )
    info = _ebml(
        0x1549A966,
        _ebml_uint(0x2AD7B1, 1_000_000)  # TimestampScale: 1 ms ticks
        + _ebml(0x4489, struct.pack(">d", float(total_ms))),  # Duration
    )
    tracks = _ebml(
        0x1654AE6B,
        _ebml(
            0xAE,
            _ebml_uint(0xD7, 1) + _ebml_uint(0x83, 1)
            + _ebml(0x86, b"V_VP9"),
        )
        + _ebml(
            0xAE,
            _ebml_uint(0xD7, 2) + _ebml_uint(0x83, 2)
            + _ebml(0x86, b"A_OPUS"),
        ),
    )
    void = _ebml(0xEC, bytes(10 + doc_id % 20))
    clusters = b""
    for c in range(n_clusters):
        body = _ebml_uint(0xE7, c * 1000 + ts_base)  # Timestamp
        for b, (track, rel, key, _plen) in enumerate(
            webm_blocks(doc_id, c)
        ):
            lace, sizes = webm_lacing(doc_id, c, b)
            total = sum(sizes)
            payload = bytes(
                (doc_id + track + j) % 256 for j in range(total)
            )
            flags = (0x80 if key else 0x00) | (lace << 1)
            head = b""
            if lace:
                head = bytes((len(sizes) - 1,))
                if lace == 1:  # Xiph: 255-run coded sizes
                    for sz in sizes[:-1]:
                        runs = b""
                        while sz >= 255:
                            runs += bytes((255,))
                            sz -= 255
                        runs += bytes((sz,))
                        head += runs
                elif lace == 3:  # EBML: vint + 1-byte signed deltas
                    head += ebml_vint_size(sizes[0])
                    for f in range(1, len(sizes) - 1):
                        delta = sizes[f] - sizes[f - 1]
                        head += bytes((0x80 | (delta + 63),))
                # lace == 2 (fixed): count byte only
            block = (
                ebml_vint_size(track)
                + struct.pack(">h", rel)
                + bytes([flags])
                + head
                + payload
            )
            body += _ebml(0xA3, block)  # SimpleBlock
        if doc_id % 4 == 1 and c == n_clusters - 1:
            # live-muxer shape: the LAST cluster streams with the
            # UNKNOWN size vint (all VINT_DATA ones, RFC 8794 6.2) —
            # it ends where its parent does
            clusters += (
                (0x1F43B675).to_bytes(4, "big") + b"\xff" + body
            )
        else:
            clusters += _ebml(0x1F43B675, body)
    seg_body = info + tracks + void + clusters
    if doc_id % 4 == 1:
        # unknown-size Segment too: runs to EOF
        segment = (0x18538067).to_bytes(4, "big") + b"\xff" + seg_body
    else:
        segment = _ebml(0x18538067, seg_body)
    return header + segment


def mp4_track_samples(doc_id: int, track: int) -> list[tuple[int, int]]:
    """Track's samples as (duration_ms, size_bytes) closed forms —
    track 0 is the video track (two stts runs with different deltas),
    track 1 the audio track (one uniform run)."""
    if track == 0:
        n = 5 + doc_id % 6
        n1 = n // 2
        d1, d2 = 33 + doc_id % 3, 40 + doc_id % 5
        return [
            (d1 if i < n1 else d2, 10 + (doc_id + i) % 20)
            for i in range(n)
        ]
    n = 4 + doc_id % 5
    return [(20, 6 + (doc_id + i) % 9) for i in range(n)]


def _box(btype: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", len(payload) + 8) + btype + payload


def _full_box(btype: bytes, version: int, flags: int, payload: bytes) -> bytes:
    return _box(btype, bytes([version]) + flags.to_bytes(3, "big") + payload)


def mp4_n_fragments(doc_id: int) -> int:
    """Fragment count for fragmented docs (doc % 4 == 3): 2 or 3."""
    return 2 + doc_id % 2


def heif_params(doc_id: int) -> tuple[int, int, int, int]:
    """(n_image_items, primary_w, primary_h, rot) closed forms of the
    HEIF/AVIF fixture."""
    return (
        1 + doc_id % 3,
        64 + 8 * (doc_id % 5),
        48 + 8 * (doc_id % 4),
        doc_id % 4,
    )


def heif_item_payload(doc_id: int, item_id: int) -> bytes:
    """Item item_id's mdat payload bytes by closed form."""
    n = 16 + (doc_id + 5 * item_id) % 24
    return bytes((doc_id + 3 * item_id + j) % 256 for j in range(n))


def make_heif_bytes(doc_id: int) -> bytes:
    """A HEIF/AVIF still-image container (ISO/IEC 23008-12 over
    14496-12): ftyp (avif on even docs, heic on odd, mif1+miaf
    compatible brands), a meta box holding hdlr('pict'), pitm, iinf
    with version-2 infe items (av01/hvc1 image items plus an Exif
    item on even docs), iprp = ipco property list (two ispe boxes,
    one irot, one pixi) + ipma associations (the primary gets the
    full-size ispe, the irot, and pixi; secondaries the half-size
    ispe + pixi; the essential bit set on ispe/irot), an iloc with
    4-byte offset/length fields whose item 2 splits into TWO extents,
    and the mdat carrying the closed-form item payloads at the iloc's
    absolute offsets."""

    def _b(tag: bytes, body: bytes) -> bytes:
        return struct.pack(">I", 8 + len(body)) + tag + body

    def _f(tag: bytes, version: int, flags: int, body: bytes) -> bytes:
        return _b(tag, bytes((version,)) + flags.to_bytes(3, "big") + body)

    n_img, w0, h0, rot = heif_params(doc_id)
    avif = doc_id % 2 == 0
    has_exif = doc_id % 2 == 0
    items = list(range(1, n_img + 1))
    exif_id = n_img + 1 if has_exif else None
    all_ids = items + ([exif_id] if exif_id else [])
    payloads = {i: heif_item_payload(doc_id, i) for i in all_ids}

    ftyp = _b(
        b"ftyp",
        (b"avif" if avif else b"heic") + struct.pack(">I", 0)
        + (b"avif" if avif else b"heic") + b"mif1" + b"miaf",
    )
    hdlr = _f(
        b"hdlr", 0, 0,
        struct.pack(">I", 0) + b"pict" + bytes(12) + b"graft\x00",
    )
    pitm = _f(b"pitm", 0, 0, struct.pack(">H", 1))
    infes = b""
    for i in all_ids:
        itype = (
            b"Exif" if i == exif_id
            else (b"av01" if avif else b"hvc1")
        )
        infes += _f(
            b"infe", 2, 0, struct.pack(">HH", i, 0) + itype + b"\x00"
        )
    iinf = _f(b"iinf", 0, 0, struct.pack(">H", len(all_ids)) + infes)
    props = [
        _f(b"ispe", 0, 0, struct.pack(">II", w0, h0)),
        _f(b"ispe", 0, 0, struct.pack(">II", w0 // 2, h0 // 2)),
        _b(b"irot", bytes((rot,))),
        _f(b"pixi", 0, 0, bytes((3, 8, 8, 8))),
    ]
    ipco = _b(b"ipco", b"".join(props))
    entries = b""
    for i in items:
        assoc = [0x80 | (1 if i == 1 else 2)]
        if i == 1:
            assoc.append(0x80 | 3)
        assoc.append(4)
        entries += struct.pack(">HB", i, len(assoc)) + bytes(assoc)
    ipma = _f(
        b"ipma", 0, 0, struct.pack(">I", len(items)) + entries
    )
    iprp = _b(b"iprp", ipco + ipma)

    mdat_body = bytearray()
    extents: dict[int, list[tuple[int, int]]] = {}
    for i in all_ids:
        p = payloads[i]
        parts = [p[: len(p) // 2], p[len(p) // 2 :]] if i == 2 else [p]
        ext = []
        for part in parts:
            ext.append((len(mdat_body), len(part)))
            mdat_body += part
        extents[i] = ext

    def build_iloc(mdat_at: int) -> bytes:
        body = bytes((0x44, 0x00)) + struct.pack(">H", len(all_ids))
        for i in all_ids:
            ext = extents[i]
            body += struct.pack(">HHH", i, 0, len(ext))
            for off, ln in ext:
                body += struct.pack(">II", mdat_at + off, ln)
        return _f(b"iloc", 0, 0, body)

    # two passes: iloc size is offset-independent, so the second pass
    # patches absolute offsets once meta's size is known
    meta = _f(b"meta", 0, 0, hdlr + pitm + iinf + iprp + build_iloc(0))
    mdat_at = len(ftyp) + len(meta) + 8
    meta = _f(
        b"meta", 0, 0, hdlr + pitm + iinf + iprp + build_iloc(mdat_at)
    )
    return ftyp + meta + _b(b"mdat", bytes(mdat_body))


def make_mp4_bytes(doc_id: int) -> bytes:
    """Real ISO-BMFF / MP4 (ISO 14496-12): ftyp, a moov hierarchy with
    mvhd and two traks (an avc1 video track with a TWO-RUN stts and a
    mp4a audio track) each carrying mdhd/hdlr and a full sample table
    (stsd with an opaque sample entry, stts run-lengths, stsz sizes,
    stsc, stco pointing into mdat), and an mdat whose payload is the
    tracks' samples in chunk order.  One free box sits between moov
    and mdat (the gap real muxers leave); the video trak's mdia is
    preceded by an UNKNOWN box the walker must skip by size.  All
    timescales are 1000 (ms ticks) so every duration is integer-exact;
    mvhd duration = the longer track's total.  Every fourth doc
    (doc % 4 == 3) is FRAGMENTED instead (``make_mp4_fragmented``):
    same tracks and samples, but the sample data rides moof/traf/trun
    fragments the way DASH and streaming-origin files do."""
    if doc_id % 4 == 3:
        return make_mp4_fragmented(doc_id)
    tracks = [mp4_track_samples(doc_id, t) for t in (0, 1)]
    durations = [sum(d for d, _ in t) for t in tracks]

    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2mp41")

    # mdat payload: track 0's samples then track 1's (one chunk each)
    mdat_payload = b"".join(
        bytes((doc_id + t + j) % 256 for j in range(size))
        for t, samples in enumerate(tracks)
        for _d, size in samples
    )

    def stts(samples: list) -> bytes:
        runs: list[tuple[int, int]] = []
        for d, _s in samples:
            if runs and runs[-1][1] == d:
                runs[-1] = (runs[-1][0] + 1, d)
            else:
                runs.append((1, d))
        out = struct.pack(">I", len(runs))
        for count, delta in runs:
            out += struct.pack(">II", count, delta)
        return _full_box(b"stts", 0, 0, out)

    def stbl(track: int, chunk_off: int) -> bytes:
        samples = tracks[track]
        fmt = b"avc1" if track == 0 else b"mp4a"
        stsd = _full_box(
            b"stsd", 0, 0,
            struct.pack(">I", 1)
            + _box(fmt, bytes(8)),  # opaque sample entry (codec stub)
        )
        stsz = _full_box(
            b"stsz", 0, 0,
            struct.pack(">II", 0, len(samples))
            + b"".join(struct.pack(">I", s) for _d, s in samples),
        )
        stsc = _full_box(
            b"stsc", 0, 0,
            struct.pack(">I", 1) + struct.pack(">III", 1, len(samples), 1),
        )
        stco = _full_box(
            b"stco", 0, 0, struct.pack(">II", 1, chunk_off)
        )
        return _box(b"stbl", stsd + stts(samples) + stsz + stsc + stco)

    def trak(track: int, chunk_off: int) -> bytes:
        samples = tracks[track]
        tkhd = _full_box(
            b"tkhd", 0, 7,
            struct.pack(">II", 0, 0)          # times
            + struct.pack(">I", track + 1)    # track_ID
            + bytes(4)
            + struct.pack(">I", durations[track])
            + bytes(8) + struct.pack(">hhh", 0, 0, 0) + b"\x00\x00"
            + bytes(36) + struct.pack(">II", 0, 0),
        )
        # every third doc writes the VERSION-1 (64-bit) mdhd form
        # long-duration real files use (ISO 14496-12 8.4.2)
        if doc_id % 3 == 2:
            mdhd = _full_box(
                b"mdhd", 1, 0,
                struct.pack(">QQ", 0, 0)
                + struct.pack(">I", 1000)
                + struct.pack(">Q", durations[track])
                + struct.pack(">HH", 0x55C4, 0),
            )
        else:
            mdhd = _full_box(
                b"mdhd", 0, 0,
                struct.pack(">II", 0, 0)
                + struct.pack(">II", 1000, durations[track])
                + struct.pack(">HH", 0x55C4, 0),
            )
        handler = b"vide" if track == 0 else b"soun"
        hdlr = _full_box(
            b"hdlr", 0, 0,
            bytes(4) + handler + bytes(12) + b"etl\x00",
        )
        minf = _box(b"minf", stbl(track, chunk_off))
        mdia = _box(b"mdia", mdhd + hdlr + minf)
        unknown = _box(b"uuid", bytes(6 + doc_id % 10))
        if track == 0:
            return _box(b"trak", tkhd + unknown + mdia)
        return _box(b"trak", tkhd + mdia)

    if doc_id % 3 == 2:
        # version-1 mvhd: 64-bit times and duration (8.2.2)
        mvhd = _full_box(
            b"mvhd", 1, 0,
            struct.pack(">QQ", 0, 0)
            + struct.pack(">I", 1000)
            + struct.pack(">Q", max(durations))
            + struct.pack(">I", 0x00010000) + struct.pack(">H", 0x0100)
            + bytes(10) + bytes(36) + bytes(24)
            + struct.pack(">I", 3),  # next_track_ID
        )
    else:
        mvhd = _full_box(
            b"mvhd", 0, 0,
            struct.pack(">II", 0, 0)
            + struct.pack(">II", 1000, max(durations))
            + struct.pack(">I", 0x00010000) + struct.pack(">H", 0x0100)
            + bytes(10) + bytes(36) + bytes(24)
            + struct.pack(">I", 3),  # next_track_ID
        )
    free = _box(b"free", bytes(8 + doc_id % 16))

    # chunk offsets need the final layout: moov size depends only on
    # run/sample counts, so build moov twice — once to measure, once
    # with the real offsets
    def build_moov(off0: int, off1: int) -> bytes:
        return _box(b"moov", mvhd + trak(0, off0) + trak(1, off1))

    probe = build_moov(0, 0)
    mdat_at = len(ftyp) + len(probe) + len(free) + 8
    off0 = mdat_at
    off1 = mdat_at + sum(s for _d, s in tracks[0])
    moov = build_moov(off0, off1)
    if len(moov) != len(probe):
        raise ValueError("moov sizing must be layout-independent")
    return ftyp + moov + free + _box(b"mdat", mdat_payload)


def make_mp4_frag_flags(doc_id: int) -> bytes:
    """Fragmented ISO-BMFF exercising the tfhd/trun FLAG VARIANTS
    real DASH/live encoders emit (ISO 14496-12 8.8.7/8.8.8) plus the
    size-0 (to end of file) final mdat: track 0's tfhd carries an
    ABSOLUTE base-data-offset, a sample-description-index and
    default-sample-flags, its samples split over two truns (the
    first with first-sample-flags and NO data offset, the second
    continuing the payload cursor); track 1's durations come from
    the movie-level TREX default (its tfhd carries none) under
    default-base-is-moof, and its trun carries data-offset +
    sample-size + composition-time offsets.  Same sample closed forms as
    ``make_mp4_fragmented``, so totals cross-check identically."""
    return _make_mp4_frag(doc_id, flag_tier=True)


def make_mp4_fragmented(doc_id: int) -> bytes:
    """FRAGMENTED ISO-BMFF (ISO 14496-12 8.8) — the shape DASH and
    streaming-origin files actually have: the moov carries the same
    two tracks but with EMPTY sample tables (zero-entry
    stts/stsz/stsc/stco) plus an mvex (mehd fragment_duration, one
    trex per track); the samples ride ``mp4_n_fragments`` movie
    fragments, each a moof (mfhd with 1-based sequence numbers, one
    traf per track: tfhd with the default-base-is-moof flag, trun
    with data-offset + sample-duration + sample-size flags) followed
    by its mdat.  Fragment k takes the contiguous slice
    [k*n//nf, (k+1)*n//nf) of each track's samples, so trun
    durations/sizes sum exactly to the mdhd/mehd totals the walker
    cross-checks."""
    return _make_mp4_frag(doc_id, flag_tier=False)


def _make_mp4_frag(doc_id: int, flag_tier: bool) -> bytes:
    tracks = [mp4_track_samples(doc_id, t) for t in (0, 1)]
    durations = [sum(d for d, _ in t) for t in tracks]
    nf = mp4_n_fragments(doc_id)

    def frag_slice(t: int, k: int) -> list:
        n = len(tracks[t])
        return tracks[t][k * n // nf: (k + 1) * n // nf]

    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2mp41")

    def trak(track: int) -> bytes:
        tkhd = _full_box(
            b"tkhd", 0, 7,
            struct.pack(">II", 0, 0)
            + struct.pack(">I", track + 1)
            + bytes(4)
            + struct.pack(">I", durations[track])
            + bytes(8) + struct.pack(">hhh", 0, 0, 0) + b"\x00\x00"
            + bytes(36) + struct.pack(">II", 0, 0),
        )
        # every third doc writes the VERSION-1 (64-bit) mdhd form
        # long-duration real files use (ISO 14496-12 8.4.2)
        if doc_id % 3 == 2:
            mdhd = _full_box(
                b"mdhd", 1, 0,
                struct.pack(">QQ", 0, 0)
                + struct.pack(">I", 1000)
                + struct.pack(">Q", durations[track])
                + struct.pack(">HH", 0x55C4, 0),
            )
        else:
            mdhd = _full_box(
                b"mdhd", 0, 0,
                struct.pack(">II", 0, 0)
                + struct.pack(">II", 1000, durations[track])
                + struct.pack(">HH", 0x55C4, 0),
            )
        handler = b"vide" if track == 0 else b"soun"
        hdlr = _full_box(
            b"hdlr", 0, 0, bytes(4) + handler + bytes(12) + b"etl\x00"
        )
        fmt = b"avc1" if track == 0 else b"mp4a"
        stsd = _full_box(
            b"stsd", 0, 0, struct.pack(">I", 1) + _box(fmt, bytes(8))
        )
        # zero-entry sample tables: the data lives in the fragments
        stbl = _box(
            b"stbl",
            stsd
            + _full_box(b"stts", 0, 0, struct.pack(">I", 0))
            + _full_box(b"stsz", 0, 0, struct.pack(">II", 0, 0))
            + _full_box(b"stsc", 0, 0, struct.pack(">I", 0))
            + _full_box(b"stco", 0, 0, struct.pack(">I", 0)),
        )
        minf = _box(b"minf", stbl)
        mdia = _box(b"mdia", mdhd + hdlr + minf)
        return _box(b"trak", tkhd + mdia)

    mvhd = _full_box(
        b"mvhd", 0, 0,
        struct.pack(">II", 0, 0)
        + struct.pack(">II", 1000, max(durations))
        + struct.pack(">I", 0x00010000) + struct.pack(">H", 0x0100)
        + bytes(10) + bytes(36) + bytes(24)
        + struct.pack(">I", 3),
    )
    mvex = _box(
        b"mvex",
        (_full_box(b"mehd", 1, 0, struct.pack(">Q", max(durations)))
         if doc_id % 2
         else _full_box(b"mehd", 0, 0, struct.pack(">I", max(durations))))
        + b"".join(
            _full_box(
                b"trex", 0, 0,
                # flag tier: track 2's default_sample_duration rides
                # the TREX (movie-level) tier — its tfhd carries no
                # duration default and its trun no per-sample
                # durations, so the walker's last fallback is live
                struct.pack(
                    ">IIIII", t + 1, 1,
                    20 if (flag_tier and t == 1) else 0, 0, 0,
                ),
            )
            for t in (0, 1)
        ),
    )
    moov = _box(b"moov", mvhd + trak(0) + trak(1) + mvex)

    if flag_tier:
        # ---- the tfhd/trun FLAG-VARIANT tier (round 14) ----------
        # track 0: tfhd base-data-offset (absolute) + sample-
        # description-index + default-sample-flags; its samples split
        # across TWO truns — the first with first-sample-flags and NO
        # data offset (the decoder's running payload cursor), the
        # second continuing it.  track 1: tfhd default-base-is-moof +
        # default-sample-duration (trun entries carry no durations),
        # trun with data-offset + sample-size + composition-time
        # offsets.  The LAST fragment's mdat is written as a SIZE-0
        # (to end of file) box — the live-capture shape.
        out = bytearray(ftyp + moov)
        for k in range(nf):
            frags = [frag_slice(t, k) for t in (0, 1)]
            half = (len(frags[0]) + 1) // 2
            b0 = sum(s for _d, s in frags[0])

            def build_moof(base0: int, off1: int) -> bytes:
                tfhd0 = _full_box(
                    b"tfhd", 0, 0x000001 | 0x000002 | 0x000020,
                    struct.pack(">IQ", 1, base0)
                    + struct.pack(">II", 1, 0x02000000),
                )
                trun0a = _full_box(
                    b"trun", 0, 0x000004 | 0x000100 | 0x000200,
                    struct.pack(">II", half, 0x02000000)
                    + b"".join(
                        struct.pack(">II", d, s)
                        for d, s in frags[0][:half]
                    ),
                )
                trun0b = _full_box(
                    b"trun", 0, 0x000100 | 0x000200,
                    struct.pack(">I", len(frags[0]) - half)
                    + b"".join(
                        struct.pack(">II", d, s)
                        for d, s in frags[0][half:]
                    ),
                )
                tfhd1 = _full_box(
                    b"tfhd", 0, 0x020000,
                    struct.pack(">I", 2),
                )
                trun1 = _full_box(
                    b"trun", 0, 0x000001 | 0x000200 | 0x000800,
                    struct.pack(">Ii", len(frags[1]), off1)
                    + b"".join(
                        struct.pack(">II", s, ((doc_id + j) % 3) * 10)
                        for j, (_d, s) in enumerate(frags[1])
                    ),
                )
                return _box(
                    b"moof",
                    _full_box(b"mfhd", 0, 0, struct.pack(">I", k + 1))
                    + _box(b"traf", tfhd0 + trun0a + trun0b)
                    + _box(b"traf", tfhd1 + trun1),
                )

            probe = build_moof(0, 0)
            base0 = len(out) + len(probe) + 8   # absolute payload start
            off1 = len(probe) + 8 + b0          # relative to moof start
            moof = build_moof(base0, off1)
            if len(moof) != len(probe):
                raise ValueError("moof sizing must be layout-independent")
            payload = b"".join(
                bytes((doc_id + t + j) % 256 for j in range(size))
                for t, frag in enumerate(frags)
                for _d, size in frag
            )
            if k == nf - 1:
                # size-0 mdat: extends to end of file
                out += moof + struct.pack(">I", 0) + b"mdat" + payload
            else:
                out += moof + _box(b"mdat", payload)
        return bytes(out)

    out = bytearray(ftyp + moov)
    for k in range(nf):
        frags = [frag_slice(t, k) for t in (0, 1)]
        # one traf per track: tfhd flags 0x020000 (default-base-is-
        # moof), trun flags 0x000301 (data-offset, sample-duration,
        # sample-size); data offsets need the final moof size, which
        # is sample-count-dependent only, so build twice
        def build_moof(off0: int, off1: int) -> bytes:
            trafs = b""
            for t, off in ((0, off0), (1, off1)):
                tfhd = _full_box(
                    b"tfhd", 0, 0x020000, struct.pack(">I", t + 1)
                )
                trun = _full_box(
                    b"trun", 0, 0x000301,
                    struct.pack(">Ii", len(frags[t]), off)
                    + b"".join(
                        struct.pack(">II", d, s) for d, s in frags[t]
                    ),
                )
                trafs += _box(b"traf", tfhd + trun)
            return _box(
                b"moof",
                _full_box(b"mfhd", 0, 0, struct.pack(">I", k + 1))
                + trafs,
            )

        probe = build_moof(0, 0)
        off0 = len(probe) + 8
        off1 = off0 + sum(s for _d, s in frags[0])
        moof = build_moof(off0, off1)
        if len(moof) != len(probe):
            raise ValueError("moof sizing must be layout-independent")
        payload = b"".join(
            bytes((doc_id + t + j) % 256 for j in range(size))
            for t, frag in enumerate(frags)
            for _d, size in frag
        )
        out += moof + _box(b"mdat", payload)
    return bytes(out)


# ISO/IEC 14496-3 1.6.3.4 samplingFrequencyIndex table (indices 0-12)
AAC_SAMPLE_RATES = (
    96000, 88200, 64000, 48000, 44100, 32000, 24000, 22050, 16000,
    12000, 11025, 8000, 7350,
)


def aac_adts_frame_fields(doc_id: int, k: int) -> tuple[int, int, int, int, int]:
    """Frame k's (profile, sf_index, channels, n_raw_blocks,
    payload_len) closed forms."""
    return (
        (doc_id + k) % 4,
        (doc_id + k) % 13,
        1 + (doc_id + k) % 7,
        1 + (doc_id + k) % 4,
        9 + (doc_id + 3 * k) % 30,
    )


def make_aac_adts_bytes(doc_id: int) -> bytes:
    """Real ADTS-framed AAC (ISO/IEC 14496-3 1.A.2): 3 + doc % 4
    frames, each a 7-byte header (syncword FFF, MPEG-4, layer 00,
    protection_absent 1, 2-bit profile, 4-bit sampling index, 3-bit
    channel configuration, 13-bit frame length spanning header +
    payload, 0x7FF buffer fullness = VBR, raw-data-block count) over
    deterministic fake AAC payload bytes (the raw-data-block entropy
    decode is the declared stub — the framing layer is what the walk
    proves)."""
    out = bytearray()
    for k in range(3 + doc_id % 4):
        profile, sf_idx, channels, n_rdb, plen = aac_adts_frame_fields(
            doc_id, k
        )
        frame_len = 7 + plen
        hdr = 0
        hdr = (hdr << 12) | 0xFFF        # syncword
        hdr = (hdr << 1) | 0             # MPEG-4
        hdr = (hdr << 2) | 0             # layer
        hdr = (hdr << 1) | 1             # protection_absent (no CRC)
        hdr = (hdr << 2) | profile
        hdr = (hdr << 4) | sf_idx
        hdr = (hdr << 1) | 0             # private
        hdr = (hdr << 3) | channels
        hdr = (hdr << 4) | 0             # orig/home/copyright bits
        hdr = (hdr << 13) | frame_len
        hdr = (hdr << 11) | 0x7FF        # buffer fullness: VBR
        hdr = (hdr << 2) | (n_rdb - 1)
        out += hdr.to_bytes(7, "big")
        out += bytes((doc_id + k + j) % 256 for j in range(plen))
    return bytes(out)


# Adam7 pass grid (PNG spec 8.2): (x_start, x_step, y_start, y_step)
PNG_ADAM7 = (
    (0, 8, 0, 8), (4, 8, 0, 8), (0, 4, 4, 8), (2, 4, 0, 4),
    (0, 2, 2, 4), (1, 2, 0, 2), (0, 1, 1, 2),
)


def png_adam7_params(doc_id: int) -> tuple[int, int, int, int, int]:
    """(width, height, r0, g0, b0) for the interlaced-PNG gradient
    fixture.  Channel values are the linear ramps r = r0 + x + 2y,
    g = g0 + 2x + y, b = b0 + x + y — slopes small enough that no value
    wraps 255 (W <= 30, H <= 16, bases <= 139), so per-channel sums
    have exact closed forms AND every pixel position is distinguishable:
    a decoder that misplaces an Adam7 pass gets the probe pixels wrong."""
    return (
        12 + doc_id % 19,
        6 + doc_id % 11,
        (doc_id * 3) % 140,
        (doc_id * 7) % 140,
        (doc_id * 11) % 140,
    )


def png_adam7_pixel(doc_id: int, x: int, y: int) -> tuple[int, int, int]:
    """Channel values of pixel (x, y) in the gradient fixture."""
    _w, _h, r0, g0, b0 = png_adam7_params(doc_id)
    return r0 + x + 2 * y, g0 + 2 * x + y, b0 + x + y


def make_png_adam7_bytes(doc_id: int) -> bytes:
    """Real Adam7-INTERLACED PNG (interlace method 1): the gradient
    image is split into the spec's seven passes, each pass filtered as
    its own sub-image (filter type cycles per pass row, previous-row
    state resets at every pass boundary) and all passes DEFLATEd into
    one IDAT datastream — a decoder must walk the pass grid to place
    any pixel correctly; treating the stream as sequential scanlines
    scrambles the image."""
    import zlib

    width, height, _r0, _g0, _b0 = png_adam7_params(doc_id)
    bpp = 3
    scanlines = []
    for x0, dx, y0, dy in PNG_ADAM7:
        if x0 >= width or y0 >= height:
            continue
        xs = range(x0, width, dx)
        prev = bytes(len(xs) * bpp)
        for j, y in enumerate(range(y0, height, dy)):
            row = bytearray()
            for x in xs:
                row += bytes(png_adam7_pixel(doc_id, x, y))
            f = j % 5
            filt = bytearray(len(row))
            for i in range(len(row)):
                left = row[i - bpp] if i >= bpp else 0
                up = prev[i]
                up_left = prev[i - bpp] if i >= bpp else 0
                if f == 0:
                    pred = 0
                elif f == 1:
                    pred = left
                elif f == 2:
                    pred = up
                elif f == 3:
                    pred = (left + up) // 2
                else:
                    pred = _paeth(left, up, up_left)
                filt[i] = (row[i] - pred) & 0xFF
            scanlines.append(bytes([f]) + bytes(filt))
            prev = bytes(row)
    idat = zlib.compress(b"".join(scanlines))

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data))
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 1)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", idat)
        + chunk(b"IEND", b"")
    )


def gif_anim_params(doc_id: int) -> tuple[int, int, int]:
    """(width, height, n_frames) for the animated-GIF fixture: frame 0
    is a full-screen 4-color gradient; each later frame is a 4x3 patch
    composited under disposal method 1 (do not dispose)."""
    return 10 + doc_id % 12, 6 + doc_id % 8, 2 + doc_id % 4


def gif_anim_patch(doc_id: int, k: int, width: int, height: int):
    """(left, top, w, h) of animation frame k's patch (k >= 1): closed
    forms bounded inside the logical screen."""
    return (doc_id + 2 * k) % (width - 3), (doc_id + k) % (height - 2), 4, 3


def make_gif_anim_bytes(doc_id: int) -> bytes:
    """Real ANIMATED GIF89a: NETSCAPE looping application extension, a
    Graphic Control Extension (disposal method 1, per-frame delay)
    before every frame, frame 0 full-screen, frames k >= 1 sub-
    rectangle patches whose image descriptors carry real left/top
    offsets — a decoder must composite each patch onto the persisting
    canvas (disposal 1 = do not dispose) to know any later frame's
    pixels.  Patch pixels use a k-dependent index formula in ABSOLUTE
    coordinates, so a decoder that pastes a patch at the wrong offset
    (or forgets earlier patches) diverges immediately."""
    width, height, n_frames = gif_anim_params(doc_id)
    palette = gif_palette(doc_id)
    gct = bytes(v for rgb in palette for v in rgb)

    def img_block(left, top, w, h, indices):
        lzw = _lzw_encode(indices, 2)
        blocks = bytearray()
        for i in range(0, len(lzw), 255):
            chunk = lzw[i : i + 255]
            blocks.append(len(chunk))
            blocks += chunk
        blocks.append(0)
        return (
            b"\x2c" + struct.pack("<HHHH", left, top, w, h) + b"\x00"
            + bytes([2]) + bytes(blocks)
        )

    out = bytearray()
    out += b"GIF89a"
    out += struct.pack("<HH", width, height)
    out += bytes([0x81, 0, 0])
    out += gct
    # NETSCAPE 2.0 looping extension (loop forever)
    out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00"
    for k in range(n_frames):
        # GCE: disposal 1 (do not dispose), no transparency, delay
        out += b"\x21\xf9\x04" + bytes([0x04]) + struct.pack(
            "<H", 5 + k
        ) + b"\x00\x00"
        if k == 0:
            idx = [
                (x + y + doc_id) % 4
                for y in range(height)
                for x in range(width)
            ]
            out += img_block(0, 0, width, height, idx)
        else:
            left, top, w, h = gif_anim_patch(doc_id, k, width, height)
            idx = [
                (x + 2 * y + doc_id + k) % 4
                for y in range(top, top + h)
                for x in range(left, left + w)
            ]
            out += img_block(left, top, w, h, idx)
    out += b"\x3b"
    return bytes(out)


def gif_disposal_params(doc_id: int) -> tuple[int, int, int, int, int, int]:
    """(width, height, n_frames, bg_index, patch_left, patch_top) for
    the disposal/transparency GIF fixture.  All frames k >= 1 draw the
    SAME 4x3 rect with alternating disposal 2/3 — that pins the rect's
    pre-draw state to a closed form (background index once any earlier
    frame used disposal 2, else the base frame) a SQL oracle restates
    without replaying history."""
    w = 10 + doc_id % 10
    h = 7 + doc_id % 6
    return (
        w, h, 3 + doc_id % 3, doc_id % 4, doc_id % (w - 4),
        doc_id % (h - 3),
    )


def make_gif_disposal_bytes(doc_id: int) -> bytes:
    """Real GIF89a exercising the FULL frame-disposal state machine:
    a do-not-dispose base frame (INTERLACED on every fourth doc: rows
    shipped in the four-pass order under flag 0x40), then patches over
    one fixed rect
    whose GCEs alternate disposal 2 (restore to the screen
    descriptor's background index) and 3 (restore previous), each with
    the transparency flag set — transparent-index (3) pixels under the
    (x+y+k)%3=0 mask let the disposed canvas show through, opaque
    pixels carry (x+2y+doc+k)%3 (never the transparent index)."""
    width, height, n_frames, bg, pl, pt = gif_disposal_params(doc_id)
    palette = gif_palette(doc_id)
    gct = bytes(v for rgb in palette for v in rgb)

    def img_block(left, top, w, h, indices, interlaced=False):
        lzw = _lzw_encode(indices, 2)
        blocks = bytearray()
        for i in range(0, len(lzw), 255):
            chunk = lzw[i : i + 255]
            blocks.append(len(chunk))
            blocks += chunk
        blocks.append(0)
        flags = 0x40 if interlaced else 0x00
        return (
            b"\x2c" + struct.pack("<HHHH", left, top, w, h)
            + bytes([flags, 2]) + bytes(blocks)
        )

    out = bytearray()
    out += b"GIF89a"
    out += struct.pack("<HH", width, height)
    out += bytes([0x81, bg, 0])  # GCT flag/size, background index
    out += gct
    # base frame: disposal 1, opaque; every fourth doc ships it
    # INTERLACED (rows in the four-pass order, flag 0x40) — base pixel
    # values vary by row, so a decoder that ignores the flag scrambles
    # every frame's composited means
    interlaced = doc_id % 4 == 0
    if interlaced:
        row_order = [
            y
            for s0, st in ((0, 8), (4, 8), (2, 4), (1, 2))
            for y in range(s0, height, st)
        ]
    else:
        row_order = list(range(height))
    out += b"\x21\xf9\x04\x04\x00\x00\x00\x00"
    out += img_block(
        0, 0, width, height,
        [(x + y + doc_id) % 4 for y in row_order for x in range(width)],
        interlaced=interlaced,
    )
    for k in range(1, n_frames):
        disposal = 2 + (doc_id + k) % 2
        # GCE: disposal | transparency flag, delay, transparent idx 3
        out += b"\x21\xf9\x04" + bytes([(disposal << 2) | 0x01])
        out += struct.pack("<H", 4) + bytes([3, 0])
        idx = [
            3 if (x + y + k) % 3 == 0 else (x + 2 * y + doc_id + k) % 3
            for y in range(pt, pt + 3)
            for x in range(pl, pl + 4)
        ]
        out += img_block(pl, pt, 4, 3, idx)
    out += b"\x3b"
    return bytes(out)


def tiff_params(doc_id: int) -> tuple[int, int, bool, int, int, int]:
    """(width, height, big_endian, r0, g0, b0) for the TIFF gradient
    fixture: r = r0 + 2x + y, g = g0 + x + 2y, b = b0 + x + y (no value
    wraps 255).  Odd doc_ids are written big-endian (MM), even ones
    little-endian (II) — a reader keyed to one byte order fails half
    the corpus."""
    return (
        9 + doc_id % 14,
        5 + doc_id % 9,
        doc_id % 2 == 1,
        (doc_id * 5) % 140,
        (doc_id * 13) % 140,
        (doc_id * 9) % 140,
    )


def tiff_pixel(doc_id: int, x: int, y: int) -> tuple[int, int, int]:
    _w, _h, _be, r0, g0, b0 = tiff_params(doc_id)
    return r0 + 2 * x + y, g0 + x + 2 * y, b0 + x + y


def packbits_encode(data: bytes) -> bytes:
    """TIFF 6.0 PackBits (Apple RLE): repeat packets (header 257-n,
    n in 2..128) for runs of >= 3 equal bytes, literal packets
    (header n-1, n in 1..128) otherwise."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        run = 1
        while i + run < n and run < 128 and data[i + run] == data[i]:
            run += 1
        if run >= 3:
            out += bytes((257 - run, data[i]))
            i += run
            continue
        lit = i
        while i < n and i - lit < 128:
            run = 1
            while i + run < n and run < 3 and data[i + run] == data[i]:
                run += 1
            if run >= 3:
                break
            i += 1
        out.append(i - lit - 1)
        out += data[lit:i]
    return bytes(out)


def tiff_lzw_encode(data: bytes) -> bytes:
    """TIFF 6.0 §13 LZW strip encode: MSB-first bit packing, 9-bit
    initial codes, CLEAR=256/EOI=257, and the spec's EarlyChange rule
    ("When NextCode equals 511, switch to 10 bits" — one code earlier
    than GIF), with a forced CLEAR before the table would pass 4094."""
    out = bytearray()
    acc = nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            nbits -= 8
            out.append((acc >> nbits) & 0xFF)
            acc &= (1 << nbits) - 1

    CLEAR, EOI = 256, 257
    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code, width = 258, 9
    emit(CLEAR, width)
    w = b""
    for byte in data:
        wc = w + bytes([byte])
        if wc in table:
            w = wc
            continue
        emit(table[w], width)
        table[wc] = next_code
        next_code += 1
        if next_code == (1 << width) - 1 and width < 12:
            width += 1
        elif next_code == 4094:  # table full under EarlyChange
            emit(CLEAR, width)
            table = {bytes([i]): i for i in range(256)}
            next_code, width = 258, 9
        w = bytes([byte])
    if w:
        emit(table[w], width)
    emit(EOI, width)
    if nbits:
        emit(0, 8 - nbits)  # zero-pad to the byte edge
    return bytes(out)


def make_tiff_bytes(doc_id: int) -> bytes:
    """Real TIFF 6.0: proper header for either byte order, one IFD
    with the required RGB tags (ImageWidth/Length, BitsPerSample
    [8,8,8] via offset, Compression, Photometric 2, StripOffsets/
    ByteCounts arrays, SamplesPerPixel 3, RowsPerStrip 2), pixel data
    split across ceil(H/2) strips that the reader must reassemble in
    strip order.  Compression cycles by doc % 4: PackBits (32773),
    LZW (5, MSB-first with the EarlyChange width rule), none (1), and
    Adobe deflate (8, one zlib stream per strip) — and half of the
    LZW and deflate docs (doc % 8 in {1, 3}) run horizontal
    differencing first (Predictor 2, tag 317: per row, each sample
    minus the same sample one pixel left, the pairing real scanner
    TIFFs use because gradients difference to near-constant streams
    entropy coders crush).  Each strip is independent per the spec;
    the decoded pixels, and therefore the oracle closed forms, are
    identical in every form."""
    width, height, be, _r0, _g0, _b0 = tiff_params(doc_id)
    e = ">" if be else "<"
    predictor = 2 if doc_id % 8 in (1, 3) else 1
    rows_per_strip = 2
    n_strips = (height + rows_per_strip - 1) // rows_per_strip
    strips = []
    for s in range(n_strips):
        data = bytearray()
        for y in range(s * rows_per_strip, min((s + 1) * rows_per_strip, height)):
            row = bytearray()
            for x in range(width):
                row += bytes(tiff_pixel(doc_id, x, y))
            if predictor == 2:  # horizontal differencing, per row
                for x in range(len(row) - 1, 2, -1):
                    row[x] = (row[x] - row[x - 3]) & 0xFF
            data += row
        if doc_id % 4 == 0:
            strips.append(packbits_encode(bytes(data)))
        elif doc_id % 4 == 1:
            strips.append(tiff_lzw_encode(bytes(data)))
        elif doc_id % 4 == 3:
            strips.append(zlib.compress(bytes(data), 9))
        else:
            strips.append(bytes(data))

    header = (b"MM" if be else b"II") + struct.pack(e + "H", 42)
    # layout: header(8) | strip data | bps array | strip offsets |
    # strip bytecounts | IFD
    pos = 8
    strip_offsets = []
    for s in strips:
        strip_offsets.append(pos)
        pos += len(s)
    bps_off = pos
    pos += 6
    so_off = pos
    pos += 4 * n_strips
    sbc_off = pos
    pos += 4 * n_strips
    ifd_off = pos

    def entry(tag: int, typ: int, count: int, value: int) -> bytes:
        # SHORT values sit left-justified in the 4-byte slot per spec
        if typ == 3 and count == 1:
            return struct.pack(e + "HHIHH", tag, typ, count, value, 0)
        return struct.pack(e + "HHII", tag, typ, count, value)

    entries = [
        entry(256, 4, 1, width),           # ImageWidth (LONG)
        entry(257, 4, 1, height),          # ImageLength
        entry(258, 3, 3, bps_off),         # BitsPerSample -> offset
        entry(259, 3, 1, {0: 32773, 1: 5, 2: 1, 3: 8}[doc_id % 4]),  # Compression
        entry(262, 3, 1, 2),               # Photometric: RGB
        entry(273, 4, n_strips, so_off if n_strips > 1 else strip_offsets[0]),
        entry(277, 3, 1, 3),               # SamplesPerPixel
        entry(278, 3, 1, rows_per_strip),  # RowsPerStrip
        entry(279, 4, n_strips, sbc_off if n_strips > 1 else len(strips[0])),
    ]
    if predictor == 2:  # tag order stays ascending (317 > 279)
        entries.append(entry(317, 3, 1, 2))  # Predictor: horizontal
    ifd = struct.pack(e + "H", len(entries)) + b"".join(entries) + struct.pack(
        e + "I", 0
    )
    out = bytearray()
    out += header + struct.pack(e + "I", ifd_off)
    for s in strips:
        out += s
    out += struct.pack(e + "HHH", 8, 8, 8)
    out += b"".join(struct.pack(e + "I", o) for o in strip_offsets)
    out += b"".join(struct.pack(e + "I", len(s)) for s in strips)
    out += ifd
    return bytes(out)


# FLAC frame-header sample-rate codes used by the fixture (full table
# is in the decoder; the fixture cycles three common rates).
FLAC_RATES = {4: 8000, 5: 16000, 6: 22050}


_CRC8_TABLE = crc_table(0x07, 8)
_CRC16_TABLE = crc_table(0x8005, 16)
_CRC32_TABLE = crc_table(0x04C11DB7, 32)


def flac_crc8(data: bytes) -> int:
    """CRC-8 with polynomial x^8 + x^2 + x + 1 (0x07), init 0 — the
    FLAC frame-header CRC.  Table-driven: one lookup per byte."""
    crc = 0
    for byte in data:
        crc = _CRC8_TABLE[crc ^ byte]
    return crc


_CRC16_TABLE2: "list | None" = None


def _crc16_table2() -> list:
    """65536-entry slicing-by-2 table: because the CRC state is
    exactly 16 bits wide, stepping two data bytes d from state s
    equals stepping them from state 0 after XORing s into them —
    U[s ^ d] with U[x] = CRC16 of the two bytes of x.  Built lazily
    (once per process) from the byte table."""
    global _CRC16_TABLE2
    if _CRC16_TABLE2 is None:
        t = _CRC16_TABLE
        u = []
        for hi in range(256):
            c1 = t[hi]  # state 0, first byte hi
            base = [(c1 >> 8), (c1 << 8) & 0xFFFF]
            for lo in range(256):
                u.append(t[base[0] ^ lo] ^ base[1])
        _CRC16_TABLE2 = u
    return _CRC16_TABLE2


def flac_crc16(data: bytes) -> int:
    """CRC-16 with polynomial 0x8005, init 0 — the FLAC frame footer
    CRC.  Slicing-by-2: one table lookup per 16-bit word (same value
    as the byte-at-a-time form; the odd trailing byte steps through
    the byte table)."""
    crc = 0
    n2 = len(data) >> 1
    if n2:
        u = _crc16_table2()
        for w in struct.unpack(f">{n2}H", data[: 2 * n2]):
            crc = u[crc ^ w]
    if len(data) & 1:
        crc = _CRC16_TABLE[((crc >> 8) ^ data[-1]) & 0xFF] ^ (
            (crc << 8) & 0xFFFF
        )
    return crc


def flac_params(doc_id: int) -> tuple[int, int]:
    """(n_frames, sample_rate_code) for the FLAC fixture: frames cycle
    CONSTANT (k%3=0), VERBATIM (k%3=1), and a Rice-coded predicted
    subframe (k%3=2: FIXED on even docs, LPC on odd docs), 256 16-bit
    mono samples each."""
    return 2 + doc_id % 4, 4 + doc_id % 3


FLAC_BLOCK = 256

# x[i] = r[i] + sum(coef[j] * x[i-1-j]) — the five FLAC fixed
# predictors (RFC 9639 §9.2.3: successive differencing orders 0-4)
FLAC_FIXED_COEFS = (
    (),
    (1,),
    (2, -1),
    (3, -3, 1),
    (4, -6, 4, -1),
)


def flac_frame_values(doc_id: int, k: int) -> int:
    """Frame k's generator value: the constant sample (k%3=0) or the
    ramp base a (samples a, a+1, .., a+255) for the verbatim (k%3=1)
    and predicted (k%3=2, fixed or LPC) frames."""
    if k % 3 == 0:
        return (doc_id * 7 + 11 * k) % 900
    if k % 3 == 1:
        return (doc_id * 5 + 13 * k) % 200
    return (doc_id * 3 + 17 * k) % 300


def flac_fixed_shape(doc_id: int, k: int) -> tuple[int, int]:
    """(predictor_order, rice_partition_order) for fixed frame k —
    cycles all five orders and partition orders 0-2 across the corpus."""
    return (doc_id + k) % 5, (doc_id + k) % 3


def flac_lpc_shape(doc_id: int) -> tuple[int, int, int, list[int]]:
    """(order, precision, shift, coefficients) of the odd docs' LPC
    subframe.  c_0 = 2^shift pins the predictor's gain at ~1 so ramp
    residuals stay small (rice parameter <= 12 by construction); the
    other taps cycle [-15, 15].  Orders 1-4, precisions 8-12, shifts
    3-5 all occur across the corpus."""
    order = 1 + doc_id % 4
    precision = 8 + doc_id % 5
    shift = 3 + doc_id % 3
    coefs = [1 << shift] + [
        ((doc_id * 5 + 7 * j) % 31) - 15 for j in range(1, order)
    ]
    return order, precision, shift, coefs


def _flac_rice_residuals(
    w: MsbWriter, res: list, porder: int, order: int, blocksize: int
) -> None:
    """Rice-coded residual section (shared by the FIXED and LPC
    subframes): method 00 (4-bit parameters), partition order p, 2^p
    partitions whose first holds blocksize/2^p - order residuals.
    Each residual zigzags to m and writes m>>param zeros, a 1, and the
    param low bits."""
    w.u(0, 2)       # residual coding method: RICE (4-bit parameters)
    w.u(porder, 4)
    idx = 0
    for part in range(1 << porder):
        n = (blocksize >> porder) - (order if part == 0 else 0)
        chunk = res[idx : idx + n]
        idx += n
        zig = [(r << 1) if r >= 0 else (-r << 1) - 1 for r in chunk]
        # smallest parameter keeping every quotient <= 1 bit of unary
        param = max(0, max((m.bit_length() - 1 for m in zig), default=0))
        if param > 14:  # 15 is the 4-bit RICE escape code
            raise ValueError("fixture residuals exceed the rice range")
        w.u(param, 4)
        for m in zig:
            w.u(0, m >> param)
            w.u(1, 1)
            if param:
                w.u(m & ((1 << param) - 1), param)


def _flac_fixed_subframe(doc_id: int, k: int, samples: list) -> bytes:
    """SUBFRAME_FIXED bitstream: header byte (pad 0, type 001|order,
    wasted 0), order warmup samples at 16 bits, then the Rice-coded
    residual section; the subframe zero-pads to the byte edge."""
    order, porder = flac_fixed_shape(doc_id, k)
    coefs = FLAC_FIXED_COEFS[order]
    res = [
        samples[i] - sum(c * samples[i - 1 - j] for j, c in enumerate(coefs))
        for i in range(order, len(samples))
    ]
    w = MsbWriter()
    w.u((8 + order) << 1, 8)
    for s in samples[:order]:
        w.u(s & 0xFFFF, 16)
    _flac_rice_residuals(w, res, porder, order, len(samples))
    w.align()
    return w.to_bytes()


def _flac_lpc_subframe(doc_id: int, k: int, samples: list) -> bytes:
    """SUBFRAME_LPC bitstream (RFC 9639 §9.2.4): header byte (pad 0,
    type 1|order-1, wasted 0), order warmup samples at 16 bits, 4-bit
    coefficient precision minus 1, 5-bit signed quantization shift,
    order signed `precision`-bit quantized coefficients, then the same
    Rice-coded residual section as SUBFRAME_FIXED.  Residuals are
    computed against the spec predictor — arithmetic-shifted
    coefficient dot product over RECONSTRUCTED history — so the
    decoder's reconstruction is exact by construction."""
    order, precision, shift, coefs = flac_lpc_shape(doc_id)
    _, porder = flac_fixed_shape(doc_id, k)
    res = [
        samples[i]
        - (sum(c * samples[i - 1 - j] for j, c in enumerate(coefs)) >> shift)
        for i in range(order, len(samples))
    ]
    w = MsbWriter()
    w.u((32 + order - 1) << 1, 8)
    for s in samples[:order]:
        w.u(s & 0xFFFF, 16)
    w.u(precision - 1, 4)
    w.u(shift & 0x1F, 5)
    for c in coefs:
        w.u(c & ((1 << precision) - 1), precision)
    _flac_rice_residuals(w, res, porder, order, len(samples))
    w.align()
    return w.to_bytes()


def make_flac_bytes(doc_id: int) -> bytes:
    """Real FLAC stream: fLaC magic, a last-flag STREAMINFO metadata
    block (blocksizes, 20-bit sample rate, mono, 16 bps, 36-bit total
    samples, and the REAL MD5 of the decoded little-endian sample
    stream), then fixed-blocksize frames — 14-bit sync, real header
    fields, UTF-8-style frame numbers, CRC-8 over the header and
    CRC-16 over the whole frame — cycling CONSTANT, VERBATIM, and
    predicted subframes — FIXED (even docs) or LPC with in-stream
    quantized coefficients (odd docs).  Predicted frames carry real
    Rice-coded residual partitions (RFC 9639 §9.2.7: 2-bit coding
    method, 4-bit partition order, per-partition 4-bit parameter,
    zigzag + quotient-unary + k-bit remainder codes, zero-padded to
    the byte edge)."""
    import hashlib

    n_frames, sr_code = flac_params(doc_id)
    rate = FLAC_RATES[sr_code]
    total = n_frames * FLAC_BLOCK

    all_samples = []
    frames = bytearray()
    for k in range(n_frames):
        # CONSTANT/VERBATIM field boundaries land on byte edges
        # (sync+codes = 4 bytes, 1-byte frame number, 1-byte subframe
        # header, 16-bit samples) so those frames assemble as plain
        # bytes; FIXED frames pack Rice codes through an MsbWriter.
        header = bytes((
            0xFF, 0b11111000,           # 14-bit sync + reserved + fixed
            (8 << 4) | sr_code,         # blocksize code 8 (256) | rate
            (0 << 4) | (4 << 1),        # mono | 16-bit | reserved
            k,                          # frame number (UTF-8 form, <128)
        ))
        header += bytes([flac_crc8(header)])
        v = flac_frame_values(doc_id, k)
        if k % 3 == 0:
            sub = bytes([0 << 1]) + struct.pack(">h", v)  # CONSTANT
            samples = [v] * FLAC_BLOCK
        elif k % 3 == 1:
            samples = list(range(v, v + FLAC_BLOCK))
            sub = bytes([1 << 1]) + struct.pack(  # VERBATIM
                f">{FLAC_BLOCK}h", *samples
            )
        else:
            samples = list(range(v, v + FLAC_BLOCK))
            # odd docs take the LPC path, even docs the fixed path —
            # both reconstruct the same ramp, so the closed-form sums
            # (and the SQL oracle) are identical either way
            if doc_id % 2:
                sub = _flac_lpc_subframe(doc_id, k, samples)
            else:
                sub = _flac_fixed_subframe(doc_id, k, samples)
        body = header + sub
        body += struct.pack(">H", flac_crc16(body))
        frames += body
        all_samples.extend(samples)

    md5 = hashlib.md5(
        struct.pack(f"<{len(all_samples)}h", *all_samples)
    ).digest()
    si = MsbWriter()
    si.u(FLAC_BLOCK, 16)  # min blocksize
    si.u(FLAC_BLOCK, 16)  # max blocksize
    si.u(0, 24)  # min framesize (0 = unknown)
    si.u(0, 24)  # max framesize
    si.u(rate, 20)
    si.u(0, 3)   # channels - 1
    si.u(15, 5)  # bits per sample - 1
    si.u(total, 36)
    streaminfo = si.to_bytes() + md5
    assert len(streaminfo) == 34
    return (
        b"fLaC"
        + bytes([0x80]) + len(streaminfo).to_bytes(3, "big") + streaminfo
        + bytes(frames)
    )


def bmp_rle8_params(doc_id: int) -> tuple[int, int]:
    """(width, height) for the RLE8 BMP fixture.  Pixel (x, y) carries
    palette index (x + y + doc_id) % 4 for x < 5 (written in absolute
    mode) and (y + doc_id) % 4 for x >= 5 (written as encoded runs);
    palette entries are gif_palette(doc_id) — closed forms a SQL
    oracle restates."""
    return 14 + doc_id % 12, 6 + doc_id % 6


def make_bmp_rle8_bytes(doc_id: int) -> bytes:
    """BI_RLE8-compressed 8-bit BMP (bottom-up, as the format demands):
    each row opens with an ABSOLUTE-mode segment (00 nn + nn indices,
    padded to a word boundary) followed by encoded runs, closed by the
    00 00 end-of-line escape; the bitmap ends with 00 01.  A decoder
    must honor both modes, the padding rule, and the escapes."""
    width, height = bmp_rle8_params(doc_id)
    palette = gif_palette(doc_id)
    rle = bytearray()
    for y in range(height - 1, -1, -1):  # bottom-up storage order
        n_abs = min(5, width)
        rle += bytes((0, n_abs))
        for x in range(n_abs):
            rle.append((x + y + doc_id) % 4)
        if n_abs % 2:
            rle.append(0)  # absolute runs pad to word boundaries
        remaining = width - n_abs
        color = (y + doc_id) % 4
        while remaining > 0:
            run = min(remaining, 255)
            rle += bytes((run, color))
            remaining -= run
        rle += bytes((0, 0))  # end of line
    rle += bytes((0, 1))  # end of bitmap
    dib = struct.pack(
        "<IiiHHIIiiII",
        40, width, height, 1, 8, 1,  # BI_RLE8
        len(rle), 2835, 2835, 4, 0,  # biClrUsed = 4
    )
    pal = b"".join(bytes((b, g, r, 0)) for r, g, b in palette)
    offset = 14 + 40 + len(pal)
    header = struct.pack("<2sIHHI", b"BM", offset + len(rle), 0, 0, offset)
    return header + dib + pal + rle


def flac_stereo_params(doc_id: int) -> tuple[int, int]:
    """(n_frames, sample_rate_code) for the STEREO FLAC fixture: 4-5
    frames cycling all four channel assignments (independent,
    left/side, right/side, mid/side), 256 interchannel samples each."""
    return 4 + doc_id % 2, 4 + doc_id % 3


def flac_stereo_values(doc_id: int, k: int) -> tuple[int, int]:
    """Frame k's generators: the LEFT channel is the ramp a..a+255,
    the RIGHT channel the constant c — closed forms whose sums only
    come out right if the decoder undoes the frame's decorrelation."""
    return (doc_id * 7 + 9 * k) % 300, (doc_id * 5 + 11 * k) % 200


def _flac_pack_subframe(w: MsbWriter, samples: list, bps: int,
                        constant: bool) -> None:
    """One CONSTANT or VERBATIM subframe at an arbitrary bit depth
    (side channels carry bps+1 bits, so nothing here is byte-aligned)."""
    mask = (1 << bps) - 1
    if constant:
        w.u(0 << 1, 8)
        w.u(samples[0] & mask, bps)
    else:
        w.u(1 << 1, 8)
        for s in samples:
            w.u(s & mask, bps)


def make_flac_stereo_bytes(doc_id: int) -> bytes:
    """Real STEREO FLAC stream exercising inter-channel decorrelation
    (RFC 9639 §4.2 / §9.1): frame k's channel-assignment code cycles
    independent (1), left/side (8), right/side (9), mid/side (10).
    Side subframes carry bps+1 = 17-bit samples (side = L - R can be
    negative: two's complement); mid = (L+R)>>1, with the dropped low
    bit recoverable from side's parity.  Subframes are bit-contiguous
    — nothing after the frame header is byte-aligned until the closing
    zero-padding — and the STREAMINFO MD5 is over the interleaved
    L0 R0 L1 R1 .. little-endian stream, so ``md5_ok`` proves the
    decorrelation end-to-end."""
    import hashlib

    n_frames, sr_code = flac_stereo_params(doc_id)
    rate = FLAC_RATES[sr_code]
    total = n_frames * FLAC_BLOCK

    interleaved = []
    frames = bytearray()
    for k in range(n_frames):
        a, c = flac_stereo_values(doc_id, k)
        left = list(range(a, a + FLAC_BLOCK))
        right = [c] * FLAC_BLOCK
        mode = k % 4
        ch_code = (1, 8, 9, 10)[mode]
        header = bytes((
            0xFF, 0b11111000,
            (8 << 4) | sr_code,          # blocksize code 8 (256) | rate
            (ch_code << 4) | (4 << 1),   # channel assignment | 16-bit
            k,
        ))
        header += bytes([flac_crc8(header)])
        side = [l - r for l, r in zip(left, right)]
        w = MsbWriter()
        if mode == 0:    # independent: L verbatim, R constant
            _flac_pack_subframe(w, left, 16, constant=False)
            _flac_pack_subframe(w, right, 16, constant=True)
        elif mode == 1:  # left/side
            _flac_pack_subframe(w, left, 16, constant=False)
            _flac_pack_subframe(w, side, 17, constant=False)
        elif mode == 2:  # right/side
            _flac_pack_subframe(w, side, 17, constant=False)
            _flac_pack_subframe(w, right, 16, constant=True)
        else:            # mid/side
            mid = [(l + r) >> 1 for l, r in zip(left, right)]
            _flac_pack_subframe(w, mid, 16, constant=False)
            _flac_pack_subframe(w, side, 17, constant=False)
        w.align()
        body = header + w.to_bytes()
        body += struct.pack(">H", flac_crc16(body))
        frames += body
        for l, r in zip(left, right):
            interleaved += [l, r]

    md5 = hashlib.md5(
        struct.pack(f"<{len(interleaved)}h", *interleaved)
    ).digest()
    si = MsbWriter()
    si.u(FLAC_BLOCK, 16)
    si.u(FLAC_BLOCK, 16)
    si.u(0, 24)
    si.u(0, 24)
    si.u(rate, 20)
    si.u(1, 3)   # channels - 1 = 1: stereo
    si.u(15, 5)  # bits per sample - 1
    si.u(total, 36)
    streaminfo = si.to_bytes() + md5
    assert len(streaminfo) == 34
    return (
        b"fLaC"
        + bytes([0x80]) + len(streaminfo).to_bytes(3, "big") + streaminfo
        + bytes(frames)
    )


def wav_ext_params(doc_id: int) -> tuple[int, int, int, int]:
    """(format_kind, framerate, n_frames, amplitude_q15) for the
    extended-WAV fixture: kind 0 = 24-bit PCM, 1 = 32-bit IEEE float,
    2 = 16-bit PCM wrapped in WAVE_FORMAT_EXTENSIBLE.  The square wave
    normalizes to the same q15 amplitude in every container, so one
    oracle covers all three."""
    return (
        doc_id % 3,
        8000 + (doc_id % 4) * 4000,
        300 + (doc_id % 80) * 6,
        1000 + (doc_id % 50) * 100,
    )


# KSDATAFORMAT_SUBTYPE tail: every EXTENSIBLE subformat GUID ends with
# these 12 bytes; the leading 4 are the classic format code
_WAVE_EXT_GUID_TAIL = bytes(
    (0x00, 0x00, 0x10, 0x00, 0x80, 0x00, 0x00, 0xAA, 0x00, 0x38, 0x9B, 0x71)
)


def make_wav_ext_bytes(doc_id: int) -> bytes:
    """Hand-assembled RIFF/WAVE beyond the stdlib module's reach:
    24-bit PCM (3-byte little-endian samples), 32-bit IEEE float
    (format 3), or WAVE_FORMAT_EXTENSIBLE (0xFFFE, cbSize 22, valid
    bits + channel mask + subformat GUID).  A LIST metadata chunk and
    an ODD-sized junk chunk (with its spec-required pad byte) sit
    before fmt/data, so a reader must walk chunks by size — and honor
    the even-alignment rule — rather than assume canonical layout."""
    kind, framerate, n_frames, amp = wav_ext_params(doc_id)
    square = [amp if i % 2 == 0 else -amp for i in range(n_frames)]
    if kind == 0:  # 24-bit PCM: amplitude scaled by 256 to q23
        fmt_tag, bits, block = 1, 24, 3
        data = b"".join(
            (s * 256).to_bytes(3, "little", signed=True) for s in square
        )
        fmt = struct.pack(
            "<HHIIHH", fmt_tag, 1, framerate, framerate * block, block, bits
        )
    elif kind == 1:  # IEEE float, q15 fraction (exact binary64->32)
        fmt_tag, bits, block = 3, 32, 4
        data = b"".join(
            struct.pack("<f", s / 32768.0) for s in square
        )
        fmt = struct.pack(
            "<HHIIHH", fmt_tag, 1, framerate, framerate * block, block, bits
        )
    else:  # EXTENSIBLE wrapping 16-bit PCM
        bits, block = 16, 2
        data = b"".join(struct.pack("<h", s) for s in square)
        fmt = struct.pack(
            "<HHIIHH", 0xFFFE, 1, framerate, framerate * block, block, bits
        )
        fmt += struct.pack("<HHI", 22, bits, 0x4)  # cbSize, valid, mask
        fmt += struct.pack("<H", 1) + b"\x00\x00" + _WAVE_EXT_GUID_TAIL

    def chunk(tag: bytes, payload: bytes) -> bytes:
        pad = b"\x00" if len(payload) % 2 else b""
        return tag + struct.pack("<I", len(payload)) + payload + pad

    junk = chunk(b"junk", bytes(7 + doc_id % 4 * 2))  # odd sizes too
    listc = chunk(b"LIST", b"INFO" + chunk(b"IART", b"osetl synth\x00"))
    body = b"WAVE" + junk + listc + chunk(b"fmt ", fmt) + chunk(b"data", data)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def png_palette_params(doc_id: int) -> tuple[int, int, int]:
    """(width, height, alpha3) for the paletted-PNG fixture: pixel
    (x, y) carries palette index (x + y + doc) % 4, palette entries
    are gif_palette(doc), and tRNS gives index 3 the partial alpha
    (doc * 37) % 200 while indices 0-2 stay opaque."""
    return 9 + doc_id % 14, 5 + doc_id % 9, (doc_id * 37) % 200


def make_png_palette_bytes(doc_id: int) -> bytes:
    """Real paletted PNG (color type 3): PLTE with four RGB entries, a
    SHORT tRNS (one alpha per leading palette index — trailing entries
    default opaque per the spec), 1-byte-per-pixel scanlines with the
    filter type cycling all five per row at bpp = 1, zlib IDAT, CRC-32
    on every chunk."""
    import zlib

    width, height, alpha3 = png_palette_params(doc_id)
    palette = gif_palette(doc_id)
    prev = bytes(width)
    scanlines = []
    for y in range(height):
        row = bytes((x + y + doc_id) % 4 for x in range(width))
        f = y % 5
        filt = bytearray(width)
        for x in range(width):
            left = row[x - 1] if x >= 1 else 0
            up = prev[x]
            up_left = prev[x - 1] if x >= 1 else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = left
            elif f == 2:
                pred = up
            elif f == 3:
                pred = (left + up) // 2
            else:
                pred = _paeth(left, up, up_left)
            filt[x] = (row[x] - pred) & 0xFF
        scanlines.append(bytes([f]) + bytes(filt))
        prev = row
    idat = zlib.compress(b"".join(scanlines))

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data))
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 3, 0, 0, 0)
    plte = bytes(v for rgb in palette for v in rgb)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"PLTE", plte)
        + chunk(b"tRNS", bytes((255, 255, 255, alpha3)))
        + chunk(b"IDAT", idat)
        + chunk(b"IEND", b"")
    )


def gif_lct_params(doc_id: int) -> tuple[int, int, int, int]:
    """(width, height, patch_left, patch_top) for the local-color-table
    GIF fixture: the base frame's pixels map through the GLOBAL table
    (gif_palette(doc)), the 5x4 patch's through its own LOCAL table
    (gif_palette(doc + 1)) — same index formulas, different colors, so
    a decoder that maps patch indices through the GCT is wrong on
    every patch pixel."""
    w = 11 + doc_id % 9
    h = 6 + doc_id % 7
    return w, h, doc_id % (w - 5), doc_id % (h - 4)


def make_gif_lct_bytes(doc_id: int) -> bytes:
    """Two-frame GIF89a where frame 2 carries a LOCAL color table: a
    full-screen base frame under the global table, then a 5x4 patch
    whose image descriptor sets the LCT flag and embeds four RGB
    entries of its own (gif_palette(doc + 1)).  Disposal 1 throughout;
    indices are (x + y + doc) % 4 absolute for the base and
    (x + 2y + doc) % 4 for the patch."""
    width, height, pl, pt = gif_lct_params(doc_id)
    gct = bytes(v for rgb in gif_palette(doc_id) for v in rgb)
    lct = bytes(v for rgb in gif_palette(doc_id + 1) for v in rgb)

    def blocks_of(indices):
        lzw = _lzw_encode(indices, 2)
        out = bytearray()
        for i in range(0, len(lzw), 255):
            chunk = lzw[i : i + 255]
            out.append(len(chunk))
            out += chunk
        out.append(0)
        return bytes(out)

    out = bytearray()
    out += b"GIF89a"
    out += struct.pack("<HH", width, height)
    out += bytes([0x81, 0, 0])
    out += gct
    out += b"\x21\xf9\x04\x04\x00\x00\x00\x00"  # GCE: disposal 1
    base = [(x + y + doc_id) % 4 for y in range(height) for x in range(width)]
    out += (
        b"\x2c" + struct.pack("<HHHH", 0, 0, width, height)
        + b"\x00" + bytes([2]) + blocks_of(base)
    )
    out += b"\x21\xf9\x04\x04\x01\x00\x00\x00"
    patch = [
        (x + 2 * y + doc_id) % 4
        for y in range(pt, pt + 4)
        for x in range(pl, pl + 5)
    ]
    out += (
        b"\x2c" + struct.pack("<HHHH", pl, pt, 5, 4)
        + bytes([0x81])  # LCT flag + 2-bit table size
        + lct
        + bytes([2]) + blocks_of(patch)
    )
    out += b"\x3b"
    return bytes(out)


def _flac_utf8(n: int) -> bytes:
    """FLAC's extended-UTF-8 coded number (RFC 9639 §9.1.5): the
    standard UTF-8 prefix scheme stretched to 7 bytes / 36 bits so a
    variable-blocksize frame can carry any sample offset."""
    if n < 0x80:
        return bytes([n])
    for extra in range(1, 7):
        head_bits = 6 - extra if extra < 6 else 0
        if n < (1 << (head_bits + 6 * extra)):
            prefix = (0xFF << (7 - extra)) & 0xFF
            out = [prefix | (n >> (6 * extra))]
            out.extend(
                0x80 | ((n >> (6 * i)) & 0x3F)
                for i in range(extra - 1, -1, -1)
            )
            return bytes(out)
    raise ValueError("coded number exceeds 36 bits")


def flac_vbs_params(doc_id: int) -> tuple[int, int]:
    """(n_frames, sample_rate_code) for the VARIABLE-blocksize FLAC
    fixture."""
    return 3 + doc_id % 3, 4 + doc_id % 3


def flac_vbs_frame_shape(doc_id: int, k: int) -> tuple[int, int, int]:
    """(blocksize, blocksize_code, wasted_bits) of frame k: blocksizes
    cycle 192/224/256/288 through all four header encodings — the 192
    and 256 table codes and the 8- and 16-bit uncommon-size forms —
    and wasted bits cycle 0-3 (0 = flag off) on a phase decorrelated
    from the blocksize cycle so every (size, wasted) pairing occurs."""
    bs = (192, 224, 256, 288)[(doc_id + k) % 4]
    code = {192: 1, 224: 6, 256: 8, 288: 7}[bs]
    return bs, code, (doc_id // 2 + k) % 4


def flac_vbs_value(doc_id: int, k: int) -> int:
    """Frame k's generator: the PRE-SHIFT constant (k%3=0) or ramp base
    (otherwise); the emitted sample is this << wasted_bits."""
    if k % 3 == 0:
        return (doc_id * 7 + 11 * k) % 512
    return (doc_id * 5 + 13 * k) % 200


def make_flac_vbs_bytes(doc_id: int) -> bytes:
    """VARIABLE-blocksize FLAC stream with wasted-bits-per-sample
    (RFC 9639 §9.1.2, §9.2.2): the blocking-strategy bit is 1, every
    frame header carries the first-sample offset as an extended-UTF-8
    coded number (multi-byte once the stream passes sample 127), and
    blocksizes change frame to frame through all four header encodings
    (table codes 1 and 8, 8-bit code 6, 16-bit code 7).  Subframes
    cycle CONSTANT / VERBATIM / FIXED; frames with wasted_bits w > 0
    set the subframe wasted flag, unary-code w, write the subframe at
    16-w bits, and every decoded sample is the coded value << w —
    STREAMINFO's MD5 is over the SHIFTED samples, so a decoder that
    ignores the wasted-bits layer cannot fake ``md5_ok``."""
    import hashlib

    n_frames, sr_code = flac_vbs_params(doc_id)

    all_samples = []
    frames = bytearray()
    sample_pos = 0
    for k in range(n_frames):
        bs, bs_code, wasted = flac_vbs_frame_shape(doc_id, k)
        header = bytearray((
            0xFF, 0b11111001,           # sync + reserved 0 + VARIABLE
            (bs_code << 4) | sr_code,
            (0 << 4) | (4 << 1),        # mono | 16-bit | reserved
        ))
        header += _flac_utf8(sample_pos)  # first-sample offset
        if bs_code == 6:
            header.append(bs - 1)
        elif bs_code == 7:
            header += struct.pack(">H", bs - 1)
        header.append(flac_crc8(bytes(header)))

        eff = 16 - wasted
        v = flac_vbs_value(doc_id, k)
        w = MsbWriter()
        if k % 3 == 0:  # CONSTANT
            w.u(0, 1); w.u(0, 6)
            _flac_wasted_flag(w, wasted)
            w.u(v & ((1 << eff) - 1), eff)
            samples = [v << wasted] * bs
        elif k % 3 == 1:  # VERBATIM
            w.u(0, 1); w.u(1, 6)
            _flac_wasted_flag(w, wasted)
            for i in range(bs):
                w.u((v + i) & ((1 << eff) - 1), eff)
            samples = [(v + i) << wasted for i in range(bs)]
        else:  # FIXED at the reduced bit depth
            order = (doc_id + k) % 5
            porder = (doc_id + k) % 3
            pre = [v + i for i in range(bs)]
            coefs = FLAC_FIXED_COEFS[order]
            res = [
                pre[i] - sum(c * pre[i - 1 - j] for j, c in enumerate(coefs))
                for i in range(order, bs)
            ]
            w.u(0, 1); w.u(8 + order, 6)
            _flac_wasted_flag(w, wasted)
            for s in pre[:order]:
                w.u(s & ((1 << eff) - 1), eff)
            _flac_rice_residuals(w, res, porder, order, bs)
            samples = [p << wasted for p in pre]
        w.align()
        body = bytes(header) + w.to_bytes()
        body += struct.pack(">H", flac_crc16(body))
        frames += body
        all_samples.extend(samples)
        sample_pos += bs

    md5 = hashlib.md5(
        struct.pack(f"<{len(all_samples)}h", *all_samples)
    ).digest()
    si = MsbWriter()
    si.u(192, 16)  # min blocksize
    si.u(288, 16)  # max blocksize
    si.u(0, 24); si.u(0, 24)
    si.u(FLAC_RATES[sr_code], 20)
    si.u(0, 3)   # channels - 1
    si.u(15, 5)  # bits per sample - 1
    si.u(sample_pos, 36)
    streaminfo = si.to_bytes() + md5
    return (
        b"fLaC"
        + bytes([0x80]) + len(streaminfo).to_bytes(3, "big") + streaminfo
        + bytes(frames)
    )


def _flac_wasted_flag(w: MsbWriter, wasted: int) -> None:
    """Subframe wasted-bits field: flag 0, or flag 1 + unary(k-1)."""
    if wasted == 0:
        w.u(0, 1)
    else:
        w.u(1, 1)
        w.u(0, wasted - 1)  # k-1 zeros ...
        w.u(1, 1)           # ... then the terminating 1


def mp3_sb_params(doc_id: int) -> tuple[int, int, int, int]:
    """(n_frames, sample_rate_index, bitrate_index, reservoir_step)
    for the SHORT-BLOCK MP3 fixture (``make_mp3_sb_bytes``)."""
    return (
        3 + doc_id % 4,        # n_frames (3..6)
        doc_id % 3,            # sample-rate index
        7 + doc_id % 3,        # bitrate index: 96/112/128 kbps
        (doc_id % 6) * 9,      # reservoir step (0..45 bytes)
    )


def mp3_sb_granule(doc_id: int, g: int, region_bytes: int, delta: int):
    """Closed-form content of a SHORT-BLOCK (windows_switching,
    block_type 2, mixed off) granule: (scalefac_compress, sf_a, sf_b,
    quad_pattern, n_quads, part2_3_length).  Scalefactors are 12 short
    bands x 3 windows — bands 0-5 carry sf_a at slen1 bits, bands 6-11
    sf_b at slen2 — so part2 is 18*(slen1+slen2) bits."""
    sfc = (doc_id + g) % 16
    sl1, sl2 = MP3_SLEN[sfc]
    sf_a = (doc_id + g) % (1 << sl1)
    sf_b = (doc_id + 5 + g) % (1 << sl2)
    sf_bits = 18 * (sl1 + sl2)
    pattern = (doc_id + g) % 16
    nz = bin(pattern).count("1")
    bpq = 4 + nz
    blob_bits = 8 * (region_bytes - delta)
    budget = blob_bits // 2 if g == 0 else blob_bits - blob_bits // 2
    bv_bits = sum(
        MP3_HUFF1_ENC[(x, y)][0] + x + y
        for x, y in mp3_sb_pairs(doc_id, g)
    )
    n_quads = min((budget - sf_bits - bv_bits) // bpq, 24)
    part2_3 = sf_bits + bv_bits + n_quads * bpq
    return sfc, sf_a, sf_b, pattern, n_quads, part2_3


def mp3_sb_pairs(doc_id: int, g: int) -> list[tuple[int, int]]:
    """The short-block granule's big-values pairs — same generator as
    the long fixture but with NO region switching (both table_selects
    are table 1, so the implied window-switching boundaries never
    matter)."""
    return [
        ((doc_id + 3 * q + g) % 2, (doc_id + q + 2 * g) % 2)
        for q in range(6 + (doc_id + g) % 7)
    ]


def make_mp3_sb_bytes(doc_id: int) -> bytes:
    """MPEG-1 Layer III stream whose granules are SHORT-BLOCK
    (windows_switching_flag 1, block_type 2, mixed_block_flag 0):
    the side info carries the window-switching shape — 2-entry
    table_select and three 3-bit subblock_gain fields — and the main
    data carries the 12-band x 3-window scalefactor partition (bands
    0-5 at slen1, 6-11 at slen2, ISO 11172-3 2.4.2.7), with scfsi all
    zero as the spec demands for short blocks, followed by the same
    table-1 big-values and table-B count1 regions as the long-block
    fixture, through the same live bit reservoir."""
    n_frames, sr_idx, br_idx, delta = mp3_sb_params(doc_id)

    def put_granule(w: MsbWriter, g: int, parity: int, cap: int) -> dict:
        sfc, sf_a, sf_b, pattern, n_quads, _p23 = mp3_sb_granule(
            doc_id, g, cap, delta
        )
        _mp3_put_scalefacs(w, sfc, MP3_SF_SHORT, sf_a, sf_b)
        pairs = mp3_sb_pairs(doc_id, g)
        _mp3_put_pairs(w, [(1, x, y) for x, y in pairs], doc_id + parity + g)
        _mp3_put_quads(w, [(pattern, (doc_id + g + parity) % 2)] * n_quads)
        return dict(
            big_values=len(pairs), scalefac_compress=sfc,
            table_select=(1, 1), block_type=2,  # three short windows
            subblock_gain=tuple((doc_id + g + win) % 8 for win in range(3)),
        )

    return _mp3_reservoir_bytes(
        doc_id, n_frames, sr_idx, br_idx, delta, put_granule
    )


def mp3_ws_tables(doc_id: int, g: int) -> tuple[int, int]:
    """The window-switching fixture's (region0, region1) table pair —
    always DIFFERENT tables (indices 3 apart in the shipped cycle), so
    the decoder must place the implied 36-sample boundary to know
    where region0's code table stops."""
    return (
        MP3_HT_TABLES[(doc_id + g) % 6],
        MP3_HT_TABLES[(doc_id + g + 3) % 6],
    )


def mp3_ws_pairs(doc_id: int, g: int) -> list[tuple[int, int, int]]:
    """Granule g's big-values pairs as (table, x, y): 20 + (doc+g) % 5
    pairs, the first 18 (samples 0-35) from region0's table, the rest
    from region1's — the implied window-switching split."""
    t0, t1 = mp3_ws_tables(doc_id, g)
    out = []
    for q in range(20 + (doc_id + g) % 5):
        t = t0 if q < 18 else t1
        dim = MP3_HT_DIMS[t]
        out.append((t, (doc_id + 3 * q + g) % dim,
                    (2 * doc_id + q + g) % dim))
    return out


def mp3_b8_boundaries(doc_id: int) -> tuple[int, int]:
    """(region0_pairs, region1_pairs_end) for the B.8-row fixture at
    region0_count = 8 / region1_count = 3: boundary samples b[9] and
    b[13] of the doc's rate row, halved — the indices where the three
    MPEG-1 rows genuinely diverge (44.1: 44/90, 48: 42/88,
    32: 44/102)."""
    return ((22, 45), (21, 44), (22, 51))[doc_id % 3]


def mp3_b8_tsels(doc_id: int, g: int) -> tuple[int, int, int]:
    """Three DIFFERENT shipped tables per granule, so every region
    split lands in a different code table."""
    return (
        MP3_HT_TABLES[(doc_id + g) % 6],
        MP3_HT_TABLES[(doc_id + g + 2) % 6],
        MP3_HT_TABLES[(doc_id + g + 4) % 6],
    )


def mp3_b8_pairs(doc_id: int, g: int) -> list[tuple[int, int, int]]:
    """Granule g's big-values pairs as (table, x, y): 54 + (doc+g) % 5
    pairs split across the doc's RATE-DEPENDENT region boundaries —
    a decoder using the wrong B.8 row assigns pairs near the split to
    the wrong code table and desyncs."""
    r0, r1 = mp3_b8_boundaries(doc_id)
    t0, t1, t2 = mp3_b8_tsels(doc_id, g)
    out = []
    for q in range(54 + (doc_id + g) % 5):
        t = t0 if q < r0 else (t1 if q < r1 else t2)
        dim = MP3_HT_DIMS[t]
        out.append((t, (doc_id + 3 * q + g) % dim,
                    (2 * doc_id + q + g) % dim))
    return out


def make_mp3_b8_bytes(doc_id: int) -> bytes:
    """MPEG-1 Layer III stream exercising the DEEP Table B.8 region
    boundaries at every MPEG-1 rate: long-block granules at
    region0_count = 8 / region1_count = 3 with three different Huffman
    tables, where the three rate rows agree through b[8] but split at
    b[9] (44/42/44) and b[13] (90/88/102) — so the sample rate the doc
    cycles (44.1/48/32 kHz by doc % 3) genuinely selects which pairs
    decode through which table.  ``main_data_begin = 0``, scfsi 0,
    count1 table B."""
    w = MsbWriter()
    gr_info = [
        dict(
            _mp3_table_granule(w, doc_id, g, MP3_SF_LONG,
                               mp3_b8_pairs(doc_id, g), 3 + (doc_id + g) % 4),
            global_gain=(doc_id + 19 * g) % 256,
            table_select=mp3_b8_tsels(doc_id, g),
            region0_count=8, region1_count=3,
        )
        for g in (0, 1)
    ]
    # identical frames: build once, repeat (bytes unchanged)
    return _mp3_frame(
        7 + doc_id % 3, doc_id % 3, MP3_MONO, gr_info, w
    ) * (2 + doc_id % 3)


def make_mp3_ws_bytes(doc_id: int, mixed: bool = False) -> bytes:
    """MPEG-1 Layer III stream whose SHORT-BLOCK granules switch
    Huffman tables at the IMPLIED window-switching region boundary:
    block_type 2 granules carry two DIFFERENT table_selects and more
    than 18 big-values pairs, so pairs 0-17 (samples 0-35) decode
    through region0's table and the rest through region1's — a decoder
    that misplaces the 36-sample split reads the wrong code table and
    desyncs.  Any sample rate (the block_type-2 boundary is
    rate-independent); ``main_data_begin = 0``; scfsi 0; count1 table
    B.  All values are closed forms a SQL oracle restates.

    ``mixed=True`` keeps the identical entropy region but sets
    mixed_block_flag and writes the MIXED scalefactor partition
    instead (ISO 2.4.2.7): 8 LONG bands at slen1, then short bands
    3-5 at slen1 and 6-11 at slen2 x 3 windows — the 17*slen1 +
    18*slen2 part2 layout."""
    w = MsbWriter()
    gr_info = [
        dict(
            _mp3_table_granule(
                w, doc_id, g, MP3_SF_MIXED if mixed else MP3_SF_SHORT,
                mp3_ws_pairs(doc_id, g), 3 + (doc_id + g) % 4,
            ),
            global_gain=(doc_id + 13 * g) % 256,
            table_select=mp3_ws_tables(doc_id, g),
            block_type=2,  # three short windows
            mixed_block_flag=int(mixed),
            subblock_gain=tuple((doc_id + g + win) % 8 for win in range(3)),
        )
        for g in (0, 1)
    ]
    # identical frames: build once, repeat (bytes unchanged)
    return _mp3_frame(
        7 + doc_id % 3, doc_id % 3, MP3_MONO, gr_info, w
    ) * (2 + doc_id % 3)


def make_mp3_mx_bytes(doc_id: int) -> bytes:
    """``make_mp3_ws_bytes`` with the MIXED long/short scalefactor
    partition."""
    return make_mp3_ws_bytes(doc_id, mixed=True)


def bmp_rle4_params(doc_id: int) -> tuple[int, int]:
    """(width, height) for the RLE4 BMP fixture.  Pixel (x, y):
    x < 4 carries palette index (x+y+doc)%4 (absolute mode); the
    middle storage row (y == height//2) then DELTA-skips 2 pixels
    (left at index 0 on the zero-initialized canvas, the GDI
    convention); everything after alternates the two-nibble encoded
    run colors c1=(y+doc)%4, c2=(y+doc+1)%4 by horizontal parity."""
    return 12 + doc_id % 10, 5 + doc_id % 5


def make_bmp_rle4_bytes(doc_id: int) -> bytes:
    """BI_RLE4-compressed 4-bit BMP (bottom-up): each row opens with an
    ABSOLUTE segment (00 nn + packed nibbles, high nibble first, padded
    to a word boundary), the middle row follows with a DELTA escape
    (00 02 dx dy) that jumps the cursor right by 2, then two-color
    encoded runs whose count byte covers ALTERNATING high/low nibbles,
    closed by end-of-line (00 00) and end-of-bitmap (00 01).  A decoder
    must honor nibble packing, the run alternation rule, the delta
    jump, and both escapes."""
    width, height = bmp_rle4_params(doc_id)
    palette = gif_palette(doc_id)
    rle = bytearray()
    delta_row = height // 2
    for y in range(height - 1, -1, -1):  # bottom-up storage order
        n_abs = 4
        rle += bytes((0, n_abs))
        nibbles = [(x + y + doc_id) % 4 for x in range(n_abs)]
        for i in range(0, n_abs, 2):
            hi = nibbles[i]
            lo = nibbles[i + 1] if i + 1 < n_abs else 0
            rle.append((hi << 4) | lo)
        if ((n_abs + 1) // 2) % 2:
            rle.append(0)  # absolute segments pad to word boundaries
        x = n_abs
        if y == delta_row:
            rle += bytes((0, 2, 2, 0))  # delta: right 2, down 0
            x += 2
        c1, c2 = (y + doc_id) % 4, (y + doc_id + 1) % 4
        remaining = width - x
        if remaining > 0:  # fixture widths keep each row to one run
            rle += bytes((remaining, (c1 << 4) | c2))
        rle += bytes((0, 0))  # end of line
    rle += bytes((0, 1))  # end of bitmap
    dib = struct.pack(
        "<IiiHHIIiiII",
        40, width, height, 1, 4, 2,  # BI_RLE4
        len(rle), 2835, 2835, 4, 0,
    )
    pal = b"".join(bytes((b, g, r, 0)) for r, g, b in palette)
    offset = 14 + 40 + len(pal)
    header = struct.pack("<2sIHHI", b"BM", offset + len(rle), 0, 0, offset)
    return header + dib + pal + rle


def h264_inter_params(doc_id: int) -> tuple[int, int, int]:
    """(mb_w, mb_h, ca) for the MOTION-COMPENSATED fixture: a real MB
    grid (4-5 x 3-4) so spatial MV prediction has genuine neighbors,
    and ca (1 or 2) the column of P1's lone inter macroblock."""
    return 4 + doc_id % 2, 3 + doc_id % 2, 1 + doc_id % 2


def h264_inter_base(doc_id: int) -> int:
    """B of the affine IDR luma plane L(r, c) = B + 5r + 3c — affine so
    every motion-compensated copy shifts a frame sum by a CONSTANT the
    SQL oracle restates."""
    return 30 + (doc_id * 7) % 90


def h264_inter_refresh_luma(doc_id: int, i: int) -> int:
    """Flat luma of P3's i-th I_PCM refresh macroblock."""
    return 12 + (doc_id * 17 + 29 * i) % 180


def _h264_idr_values_rbsp(idr_pic_id: int, lumas: list[int]) -> bytes:
    """All-I_PCM IDR slice RBSP whose macroblock lumas are given
    explicitly (the affine plane the inter fixture needs)."""
    w = MsbWriter()
    w.ue(0)        # first_mb_in_slice
    w.ue(7)        # slice_type: I
    w.ue(0)        # pic_parameter_set_id
    w.u(0, 4)      # frame_num
    w.ue(idr_pic_id)
    w.u(0, 1)      # no_output_of_prior_pics_flag
    w.u(0, 1)      # long_term_reference_flag
    w.se(0)        # slice_qp_delta
    w.ue(25)       # first mb_type: I_PCM
    w.align()
    parts = [w.to_bytes()]
    for m, luma in enumerate(lumas):
        if m:
            parts.append(b"\x0d\x00")  # ue(25) + alignment, byte-aligned
        parts.append(bytes([luma]) * 256 + bytes([128]) * 128)
    parts.append(b"\x80")
    return b"".join(parts)


def make_h264_inter_bytes(doc_id: int) -> bytes:
    """H.264 Annex-B stream whose P pictures carry REAL motion
    vectors: P_L0_16x16 macroblocks (mb_type 0) with se(v) motion
    vector differences against the SPATIAL MEDIAN predictor (ITU-T
    H.264 8.4.1.3), coded_block_pattern 0 through the Inter me(v)
    mapping's codeNum 0 (Table 9-4), and P_Skip motion inferred by
    8.4.1.1 — alongside I_PCM refreshes.  All MVs are MACROBLOCK-
    aligned full-pel (multiples of 64 quarter-pel units), so the
    decoder's per-MB reference state reconstructs exactly; sub-MB
    motion would need pixel-plane interpolation and stays the
    declared boundary.

    Four pictures, each exercising a different clause of the MV
    prediction rules:
    - IDR: affine I_PCM plane L(r,c) = B + 5r + 3c.
    - P1: one inter MB at (0, ca), mv (-16, 0) full-pel — row 0, so
      B/C/D are unavailable and mvp = mvA (= 0) by the edge rule.
    - P2: an L-shaped inter block (1,1),(1,2),(2,1) with mv (0,-16) —
      (2,1) sees TWO matching nonzero neighbors, so its mvp is the
      nonzero component MEDIAN (mvd = 0); the raster-next P_Skip at
      (2,2) has neither shortcut neighbor zero, so ITS motion is the
      nonzero median too — a moving skip.
    - P3: I_PCM refreshes at (1,2),(1,3), then inter (2,1) (mvd full)
      and inter (2,2) whose neighbors B/C are intra (refIdx -1): with
      EXACTLY ONE matching refIdx the predictor is mvA wholesale, NOT
      the median — a decoder that always takes the median fetches the
      wrong reference block and the value oracle catches it.  The
      skip at (2,3) inherits motion through the same exactly-one rule
      (its B neighbor is intra, disabling the zero shortcut)."""
    mb_w, mb_h, ca = h264_inter_params(doc_id)
    n_mbs = mb_w * mb_h
    base = h264_inter_base(doc_id)
    units = [
        _h264_nal(3, 7, _h264_sps_from_fields(66, 10, mb_w - 1, mb_h - 1), 0),
        _h264_nal(3, 8, h264_pps_rbsp(doc_id), 1),
    ]
    lumas = [base + 5 * r + 3 * c for r in range(mb_h) for c in range(mb_w)]
    units.append(_h264_nal(3, 5, _h264_idr_values_rbsp(0, lumas), 2))

    def p_header(frame_num: int) -> MsbWriter:
        w = MsbWriter()
        w.ue(0)                 # first_mb_in_slice
        w.ue(5)                 # slice_type: P (all slices P)
        w.ue(0)                 # pic_parameter_set_id
        w.u(frame_num % 16, 4)  # frame_num
        w.u(0, 1)               # num_ref_idx_active_override_flag
        w.u(0, 1)               # ref_pic_list_modification_flag_l0
        w.u(0, 1)               # adaptive_ref_pic_marking_mode_flag
        w.se(0)                 # slice_qp_delta
        return w

    def inter_mb(w: MsbWriter, mvd: tuple[int, int]) -> None:
        w.ue(0)      # mb_type: P_L0_16x16
        w.se(mvd[0])  # mvd_l0 x (quarter-pel units)
        w.se(mvd[1])  # mvd_l0 y
        w.ue(0)      # coded_block_pattern: Inter me(v) codeNum 0 -> 0

    # P1: skip run to (0, ca), inter mvd (-64, 0), closing run
    w = p_header(1)
    w.ue(ca)
    inter_mb(w, (-64, 0))
    if n_mbs - ca - 1:
        w.ue(n_mbs - ca - 1)
    units.append(_h264_nal(2, 1, w.rbsp_trailing(), 3))

    # P2: L-block (1,1),(1,2),(2,1) all mv (0,-64); mvds derived from
    # the median rules the decoder re-runs: (1,1)/(1,2) predict 0,
    # (2,1) predicts the full MV (mvd 0)
    w = p_header(2)
    w.ue(mb_w + 1)
    inter_mb(w, (0, -64))
    w.ue(0)
    inter_mb(w, (0, -64))
    w.ue(mb_w - 2)
    inter_mb(w, (0, 0))
    w.ue(n_mbs - (2 * mb_w + 2))
    units.append(_h264_nal(2, 1, w.rbsp_trailing(), 4))

    # P3: I_PCM refreshes at (1,2),(1,3); inter (2,1) mvd (-64, 0);
    # inter (2,2) mvd 0 via the exactly-one-refIdx rule (B/C intra)
    w = p_header(3)
    w.ue(mb_w + 2)
    w.ue(30)  # mb_type: I_PCM in a P slice (intra 25 + offset 5)
    w.align()
    parts = [w.to_bytes()]
    parts.append(
        bytes([h264_inter_refresh_luma(doc_id, 0)]) * 256 + bytes([128]) * 128
    )
    w2 = MsbWriter()
    w2.ue(0)
    w2.ue(30)
    w2.align()
    parts.append(w2.to_bytes())
    parts.append(
        bytes([h264_inter_refresh_luma(doc_id, 1)]) * 256 + bytes([128]) * 128
    )
    w3 = MsbWriter()
    w3.ue(mb_w - 3)
    inter_mb(w3, (-64, 0))
    w3.ue(0)
    inter_mb(w3, (0, 0))
    w3.ue(n_mbs - (2 * mb_w + 3))
    parts.append(w3.rbsp_trailing())
    units.append(_h264_nal(2, 1, b"".join(parts), 5))
    return b"".join(units)


def h264_fracpel_dims(doc_id: int) -> tuple[int, int, int]:
    """(mb_w, mb_h, n_pairs) for the fractional-pel fixture: a real
    pixel plane (48x32 .. 64x48) and 2-4 (IDR, P) picture pairs."""
    return 3 + doc_id % 2, 2 + doc_id % 2, 2 + doc_id % 3


def h264_fracpel_luma(doc_id: int, f: int, x: int, y: int) -> int:
    """Reference-plane luma of pair f at pixel (x, y): a bounded
    two-gradient ramp with mod-200 wraps, so the 6-tap windows see
    genuine high-frequency structure (the wrap edges) and the
    interpolator's Clip1/rounding paths all do real work."""
    return 16 + (3 * x + 7 * y + 11 * doc_id + 31 * f) % 200


def h264_fracpel_mv(doc_id: int, f: int) -> tuple[int, int]:
    """Pair f's global quarter-pel motion vector: integer parts sweep
    -16..16 / -12..12 full-pel (so blocks genuinely reach past the
    picture edge and the 8.4.2.2.1 clamp fires) and the fractional
    phases (fx, fy) cycle all 16 quarter-pel combinations across
    docs and pairs."""
    ix = ((doc_id + 5 * f) % 33) - 16
    iy = ((2 * doc_id + 7 * f) % 25) - 12
    fx = (doc_id + 2 * f) % 4
    fy = (3 * doc_id + f) % 4
    return 4 * ix + fx, 4 * iy + fy


def _h264_idr_pixels_rbsp(
    idr_pic_id: int, plane: list, cb: "list | None" = None,
    cr: "list | None" = None,
) -> bytes:
    """All-I_PCM IDR slice RBSP carrying an arbitrary PER-PIXEL luma
    plane (``plane[y][x]``), 16x16 macroblock raster order — the
    pixel-exact reference state the fractional-pel walker needs.
    Optional ``cb``/``cr`` half-resolution planes fill the 4:2:0
    chroma samples (flat 128 when omitted)."""
    w = MsbWriter()
    w.ue(0)        # first_mb_in_slice
    w.ue(7)        # slice_type: I
    w.ue(0)        # pic_parameter_set_id
    w.u(0, 4)      # frame_num
    w.ue(idr_pic_id)
    w.u(0, 1)      # no_output_of_prior_pics_flag
    w.u(0, 1)      # long_term_reference_flag
    w.se(0)        # slice_qp_delta
    w.ue(25)       # first mb_type: I_PCM
    w.align()
    import numpy as np

    arr = np.asarray(plane, dtype=np.uint8)
    cba = None if cb is None else np.asarray(cb, dtype=np.uint8)
    cra = None if cr is None else np.asarray(cr, dtype=np.uint8)
    mb_h, mb_w = arr.shape[0] // 16, arr.shape[1] // 16
    parts = [w.to_bytes()]
    for m in range(mb_w * mb_h):
        if m:
            parts.append(b"\x0d\x00")  # ue(25) + alignment
        my, mx = (m // mb_w) * 16, (m % mb_w) * 16
        parts.append(arr[my : my + 16, mx : mx + 16].tobytes())
        if cba is None:
            parts.append(bytes([128]) * 128)
        else:
            cy, cx = my // 2, mx // 2
            parts.append(cba[cy : cy + 8, cx : cx + 8].tobytes())
            parts.append(cra[cy : cy + 8, cx : cx + 8].tobytes())
    parts.append(b"\x80")
    return b"".join(parts)


def h264_submb_dims(doc_id: int) -> tuple[int, int, int]:
    """(mb_w, mb_h, n_pairs) for the sub-macroblock-shapes fixture."""
    return 3 + doc_id % 2, 2 + doc_id % 2, 2


def h264_submb_luma(doc_id: int, f: int, x: int, y: int) -> int:
    """Reference-plane luma of pair f at pixel (x, y)."""
    return 16 + (5 * x + 3 * y + 13 * doc_id + 29 * f) % 200


def h264_submb_smt(doc_id: int, f: int, i: int, m: int) -> int:
    """sub_mb_type of sub-macroblock m of macroblock i: cycles all
    four Table 7-17 shapes (0 = 8x8, 1 = 8x4, 2 = 4x8, 3 = 4x4)."""
    return (doc_id + f + i + m) % 4


def h264_submb_mv(
    doc_id: int, f: int, i: int, m: int, p: int
) -> tuple[int, int]:
    """Quarter-pel MV of partition p of sub-macroblock m of
    macroblock i in pair f: integer parts sweep -8..8 / -6..6
    full-pel and the fractional phases cycle independently per
    partition, so neighboring partitions genuinely disagree and the
    4x4-grid median prediction does real work."""
    ix = ((doc_id + 2 * f + 3 * i + 5 * m + 7 * p) % 17) - 8
    iy = ((2 * doc_id + f + i + 3 * m + 5 * p) % 13) - 6
    fx = (doc_id + f + i + m + p) % 4
    fy = (3 * doc_id + 2 * f + i + m + 3 * p) % 4
    return 4 * ix + fx, 4 * iy + fy


def make_h264_submb_bytes(doc_id: int) -> bytes:
    """H.264 Annex-B stream whose P pictures partition EVERY
    macroblock as P_8x8 with all four Table 7-17 sub-partition
    shapes (8x8/8x4/4x8/4x4 via ``h264_submb_smt``), each partition
    carrying its own quarter-pel MV (``h264_submb_mv``) coded as an
    se(v) difference against the 4x4-grid 8.4.1.3 median predictor —
    the encoder mirrors the decoder's predictor (decode._h264_qmvp on
    the 4x4 block grid) so every mvd is exact, and a decoder that
    predicts at the wrong granularity or wrong availability rule
    desyncs values immediately.  Pictures pair as (per-pixel I_PCM
    IDR, P), so each P predicts from a closed-form plane the SQL
    oracle restates."""
    from .decode import H264_SUB_MB_PARTS, _h264_qmvp

    mb_w, mb_h, n_pairs = h264_submb_dims(doc_id)
    w_px, h_px = 16 * mb_w, 16 * mb_h
    n_mbs = mb_w * mb_h
    bw4 = 4 * mb_w
    units = [
        _h264_nal(3, 7, _h264_sps_from_fields(66, 10, mb_w - 1, mb_h - 1), 0),
        _h264_nal(3, 8, h264_pps_rbsp(doc_id), 1),
    ]
    idx = 2
    import numpy as np

    xs = np.arange(w_px)[None, :]
    ys = np.arange(h_px)[:, None]
    for f in range(n_pairs):
        plane = 16 + (5 * xs + 3 * ys + 13 * doc_id + 29 * f) % 200
        units.append(_h264_nal(3, 5, _h264_idr_pixels_rbsp(f, plane), idx))
        idx += 1
        w = MsbWriter()
        w.ue(0)        # first_mb_in_slice
        w.ue(5)        # slice_type: P
        w.ue(0)        # pic_parameter_set_id
        w.u(1, 4)      # frame_num
        w.u(0, 1)      # num_ref_idx_active_override_flag
        w.u(0, 1)      # ref_pic_list_modification_flag_l0
        w.u(0, 1)      # adaptive_ref_pic_marking_mode_flag
        w.se(0)        # slice_qp_delta
        bmvs: list = [[None] * bw4 for _ in range(4 * mb_h)]
        for i in range(n_mbs):
            mr, mc = i // mb_w, i % mb_w
            by, bx = 4 * mr, 4 * mc
            w.ue(0)    # mb_skip_run
            w.ue(3)    # mb_type: P_8x8
            for m in range(4):
                w.ue(h264_submb_smt(doc_id, f, i, m))
            for m in range(4):
                smt = h264_submb_smt(doc_id, f, i, m)
                oy, ox = by + 2 * (m // 2), bx + 2 * (m % 2)
                for p, (dx4, dy4, w4, h4) in enumerate(
                    H264_SUB_MB_PARTS[smt]
                ):
                    mv = h264_submb_mv(doc_id, f, i, m, p)
                    mvp = _h264_qmvp(
                        bmvs, oy + dy4, ox + dx4, bw4, w4
                    )
                    w.se(mv[0] - mvp[0])
                    w.se(mv[1] - mvp[1])
                    for yy in range(oy + dy4, oy + dy4 + h4):
                        for xx in range(ox + dx4, ox + dx4 + w4):
                            bmvs[yy][xx] = (0, mv)
            w.ue(0)    # coded_block_pattern
        units.append(_h264_nal(2, 1, w.rbsp_trailing(), idx))
        idx += 1
    return b"".join(units)


def h264_bpixel_dims(doc_id: int) -> tuple[int, int]:
    """(mb_w, mb_h) for the B-picture pixel-plane fixture."""
    return 3 + doc_id % 2, 2 + doc_id % 2


def h264_bpixel_luma(doc_id: int, x: int, y: int) -> int:
    """IDR reference-plane luma closed form."""
    return 16 + (3 * x + 7 * y + 9 * doc_id) % 200


def h264_bpixel_pmv(doc_id: int) -> tuple[int, int]:
    """The P reference picture's uniform FULL-PEL MV (quarter-pel
    units, multiples of 4): integer so the future reference plane
    stays a closed-form clamped shift of the IDR plane."""
    return 4 * ((doc_id % 9) - 4), 4 * (((2 * doc_id) % 7) - 3)


def h264_bpixel_mv(doc_id: int, lst: int) -> tuple[int, int]:
    """The B picture's global quarter-pel MV for list ``lst`` (0/1):
    fractional phases cycle per doc and differ between the lists."""
    ix = ((doc_id + 3 + 4 * lst) % 13) - 6
    iy = ((2 * doc_id + 1 + 3 * lst) % 9) - 4
    fx = (doc_id + 2 * lst) % 4
    fy = (3 * doc_id + lst + 1) % 4
    return 4 * ix + fx, 4 * iy + fy


def make_h264_bpixel_bytes(doc_id: int) -> bytes:
    """H.264 Annex-B stream whose B picture carries MOVING,
    fractional-MV macroblocks over real pixel planes (ITU-T H.264
    8.4.2.1 + 8.4.2.3): decode order IDR(poc 0, per-pixel I_PCM
    plane) -> P(poc 4, reference, uniform full-pel MV) -> B(poc 2,
    non-reference) whose macroblocks cycle B_L0_16x16 / B_L1_16x16 /
    B_Bi_16x16 by (doc + idx) % 3, each list running a GLOBAL
    quarter-pel MV; mvds are coded against the per-list 8.4.1.3
    median predictors (mirrored from decode._h264_mvp, where
    neighbors that do not use a list carry refIdx -1 — the
    exactly-one-matching rule does real work at every kind
    boundary).  Bi macroblocks average the two clipped predictions
    with (a + b + 1) >> 1."""
    from .decode import _h264_mvp

    mb_w, mb_h = h264_bpixel_dims(doc_id)
    w_px, h_px = 16 * mb_w, 16 * mb_h
    n_mbs = mb_w * mb_h
    units = [
        _h264_nal(
            3, 7,
            _h264_sps_from_fields(
                66, 10, mb_w - 1, mb_h - 1, max_ref=2, poc_type=0
            ),
            0,
        ),
        _h264_nal(3, 8, h264_pps_rbsp(doc_id), 1),
    ]

    # IDR (poc 0): per-pixel plane, with the POC-type-0 lsb field
    w = MsbWriter()
    w.ue(0)        # first_mb_in_slice
    w.ue(7)        # slice_type: I
    w.ue(0)        # pic_parameter_set_id
    w.u(0, 4)      # frame_num
    w.ue(0)        # idr_pic_id
    w.u(0, 4)      # pic_order_cnt_lsb = 0
    w.u(0, 1)      # no_output_of_prior_pics_flag
    w.u(0, 1)      # long_term_reference_flag
    w.se(0)        # slice_qp_delta
    w.ue(25)
    w.align()
    import numpy as np

    arr = (16 + (3 * np.arange(w_px)[None, :] + 7 * np.arange(h_px)[:, None]
                 + 9 * doc_id) % 200).astype(np.uint8)
    parts = [w.to_bytes()]
    for m in range(n_mbs):
        if m:
            parts.append(b"\x0d\x00")
        my, mx = (m // mb_w) * 16, (m % mb_w) * 16
        parts.append(arr[my : my + 16, mx : mx + 16].tobytes())
        parts.append(bytes([128]) * 128)
    parts.append(b"\x80")
    units.append(_h264_nal(3, 5, b"".join(parts), 2))

    # P (poc 4, reference): every MB P_L0_16x16 with the uniform MV
    pmv = h264_bpixel_pmv(doc_id)
    w = MsbWriter()
    w.ue(0)
    w.ue(5)        # slice_type: P
    w.ue(0)
    w.u(1, 4)      # frame_num
    w.u(4, 4)      # pic_order_cnt_lsb = 4
    w.u(0, 1)      # num_ref_idx_active_override_flag
    w.u(0, 1)      # ref_pic_list_modification_flag_l0
    w.u(0, 1)      # adaptive_ref_pic_marking_mode_flag
    w.se(0)
    for m in range(n_mbs):
        w.ue(0)    # mb_skip_run
        w.ue(0)    # P_L0_16x16
        w.se(pmv[0] if m == 0 else 0)
        w.se(pmv[1] if m == 0 else 0)
        w.ue(0)
    units.append(_h264_nal(2, 1, w.rbsp_trailing(), 3))

    # B (poc 2, NON-reference): kinds cycle l0/l1/bi
    mv0, mv1 = h264_bpixel_mv(doc_id, 0), h264_bpixel_mv(doc_id, 1)
    w = MsbWriter()
    w.ue(0)
    w.ue(6)        # slice_type: B (6 % 5 == 1)
    w.ue(0)
    w.u(2, 4)      # frame_num
    w.u(2, 4)      # pic_order_cnt_lsb = 2
    w.u(1, 1)      # direct_spatial_mv_pred_flag (unused: no directs)
    w.u(0, 1)      # num_ref_idx_active_override_flag
    w.u(0, 1)      # ref_pic_list_modification_flag_l0
    w.u(0, 1)      # ref_pic_list_modification_flag_l1
    w.se(0)        # slice_qp_delta (non-ref: no marking)
    mbs_l0: list = [None] * n_mbs
    mbs_l1: list = [None] * n_mbs
    for m in range(n_mbs):
        kind = (doc_id + m) % 3
        w.ue(0)    # mb_skip_run
        if kind == 0:          # B_L0_16x16
            w.ue(1)
            mvp = _h264_mvp(mbs_l0, m, mb_w, 0)
            w.se(mv0[0] - mvp[0])
            w.se(mv0[1] - mvp[1])
            mbs_l0[m] = (0, mv0)
            mbs_l1[m] = (-1, (0, 0))
        elif kind == 1:        # B_L1_16x16
            w.ue(2)
            mvp = _h264_mvp(mbs_l1, m, mb_w, 0)
            w.se(mv1[0] - mvp[0])
            w.se(mv1[1] - mvp[1])
            mbs_l0[m] = (-1, (0, 0))
            mbs_l1[m] = (0, mv1)
        else:                  # B_Bi_16x16
            w.ue(3)
            mvp = _h264_mvp(mbs_l0, m, mb_w, 0)
            w.se(mv0[0] - mvp[0])
            w.se(mv0[1] - mvp[1])
            mvp = _h264_mvp(mbs_l1, m, mb_w, 0)
            w.se(mv1[0] - mvp[0])
            w.se(mv1[1] - mvp[1])
            mbs_l0[m] = (0, mv0)
            mbs_l1[m] = (0, mv1)
        w.ue(0)    # coded_block_pattern
    units.append(_h264_nal(0, 1, w.rbsp_trailing(), 4))
    return b"".join(units)


def h264_dpixel_pmv(doc_id: int) -> tuple[int, int]:
    """The direct-pixel fixture's P reference MV (quarter-pel):
    ZERO for doc % 5 == 0 (triggering the 8.4.1.2.2 colZeroFlag in
    the B's spatial direct inference) and a nonzero full-pel shift
    otherwise."""
    if doc_id % 5 == 0:
        return 0, 0
    dx = ((2 * doc_id) % 7) - 3
    dy = ((3 * doc_id) % 7) - 3
    if dx == 0 and dy == 0:
        dx = 1
    return 4 * dx, 4 * dy


def h264_dpixel_bmv(doc_id: int, lst: int) -> tuple[int, int]:
    """The B picture's explicit-Bi global quarter-pel MV per list."""
    ix = ((doc_id + 2 + 3 * lst) % 11) - 5
    iy = ((2 * doc_id + 3 + 2 * lst) % 7) - 3
    fx = (doc_id + 2 * lst) % 4
    fy = (doc_id + 1 + lst) % 4
    return 4 * ix + fx, 4 * iy + fy


def h264_dpixel_is_direct(doc_id: int, m: int, mb_w: int) -> bool:
    """Macroblock m is DIRECT/SKIP (transmits no motion) when it sits
    off the top/left edges and (doc + m) is even — so every direct
    macroblock has decoded neighbors to infer from."""
    return m // mb_w >= 1 and m % mb_w >= 1 and (doc_id + m) % 2 == 0


def make_h264_dpixel_bytes(doc_id: int) -> bytes:
    """H.264 Annex-B stream whose B picture carries SPATIAL DIRECT
    motion over pixel planes (ITU-T H.264 8.4.1.2.2): decode order
    IDR(poc 0) -> P(poc 4, uniform MV — ZERO on every fifth doc so
    colZeroFlag fires) -> B(poc 2, direct_spatial_mv_pred_flag 1)
    whose off-edge even macroblocks transmit NO motion — coded as
    B_Direct_16x16 on even docs and as B_Skip runs on odd docs —
    and must infer refIdx/MV/colZero exactly as the decoder does
    (the encoder mirrors decode._h264_direct_spatial to keep its
    neighbor state identical); the rest are explicit B_Bi_16x16
    with global per-list quarter-pel MVs."""
    from .decode import _h264_direct_spatial, _h264_mvp

    mb_w, mb_h = 3 + doc_id % 2, 2 + doc_id % 2
    w_px, h_px = 16 * mb_w, 16 * mb_h
    n_mbs = mb_w * mb_h
    units = [
        _h264_nal(
            3, 7,
            _h264_sps_from_fields(
                66, 10, mb_w - 1, mb_h - 1, max_ref=2, poc_type=0
            ),
            0,
        ),
        _h264_nal(3, 8, h264_pps_rbsp(doc_id), 1),
    ]

    import numpy as np

    arr = (16 + (7 * np.arange(w_px)[None, :]
                 + 3 * np.arange(h_px)[:, None]
                 + 13 * doc_id) % 200).astype(np.uint8)
    w = MsbWriter()
    w.ue(0); w.ue(7); w.ue(0)
    w.u(0, 4)
    w.ue(0)
    w.u(0, 4)      # pic_order_cnt_lsb = 0
    w.u(0, 2)
    w.se(0)
    w.ue(25)
    w.align()
    parts = [w.to_bytes()]
    for m in range(n_mbs):
        if m:
            parts.append(b"\x0d\x00")
        my, mx = (m // mb_w) * 16, (m % mb_w) * 16
        parts.append(arr[my : my + 16, mx : mx + 16].tobytes())
        parts.append(bytes([128]) * 128)
    parts.append(b"\x80")
    units.append(_h264_nal(3, 5, b"".join(parts), 2))

    pmv = h264_dpixel_pmv(doc_id)
    w = MsbWriter()
    w.ue(0); w.ue(5); w.ue(0)
    w.u(1, 4)
    w.u(4, 4)      # pic_order_cnt_lsb = 4
    w.u(0, 1); w.u(0, 1); w.u(0, 1)
    w.se(0)
    for m in range(n_mbs):
        w.ue(0)
        w.ue(0)
        w.se(pmv[0] if m == 0 else 0)
        w.se(pmv[1] if m == 0 else 0)
        w.ue(0)
    units.append(_h264_nal(2, 1, w.rbsp_trailing(), 3))

    # B: explicit Bi except the direct/skip positions
    bmv0 = h264_dpixel_bmv(doc_id, 0)
    bmv1 = h264_dpixel_bmv(doc_id, 1)
    col = (True, [(0, pmv)] * n_mbs)
    use_skip_form = doc_id % 2 == 1
    w = MsbWriter()
    w.ue(0); w.ue(6); w.ue(0)
    w.u(2, 4)
    w.u(2, 4)      # pic_order_cnt_lsb = 2
    w.u(1, 1)      # direct_spatial_mv_pred_flag = 1
    w.u(0, 1); w.u(0, 1); w.u(0, 1)
    w.se(0)
    mbs_l0: list = [None] * n_mbs
    mbs_l1: list = [None] * n_mbs
    run = 0
    for m in range(n_mbs):
        if h264_dpixel_is_direct(doc_id, m, mb_w):
            (r0, mv0), (r1, mv1) = _h264_direct_spatial(
                mbs_l0, mbs_l1, m, mb_w, col
            )
            mbs_l0[m] = (r0, mv0) if r0 >= 0 else (-1, (0, 0))
            mbs_l1[m] = (r1, mv1) if r1 >= 0 else (-1, (0, 0))
            if use_skip_form:
                run += 1
            else:
                w.ue(run)
                run = 0
                w.ue(0)    # mb_type: B_Direct_16x16
                w.ue(0)    # coded_block_pattern
            continue
        w.ue(run)
        run = 0
        w.ue(3)            # B_Bi_16x16
        mvp = _h264_mvp(mbs_l0, m, mb_w, 0)
        w.se(bmv0[0] - mvp[0]); w.se(bmv0[1] - mvp[1])
        mvp = _h264_mvp(mbs_l1, m, mb_w, 0)
        w.se(bmv1[0] - mvp[0]); w.se(bmv1[1] - mvp[1])
        mbs_l0[m] = (0, bmv0)
        mbs_l1[m] = (0, bmv1)
        w.ue(0)
    if run:
        w.ue(run)
    units.append(_h264_nal(0, 1, w.rbsp_trailing(), 4))
    return b"".join(units)


def h264_wpixel_weights(doc_id: int) -> tuple[int, int, int, int, int]:
    """(denom, w0, o0, w1, o1) closed forms for the weighted-pixel B
    picture: denominators 0..2, weights -2..3 (zero and negative
    included), offsets -4..4."""
    return (
        doc_id % 3,
        ((doc_id + 1) % 6) - 2,
        ((2 * doc_id) % 9) - 4,
        ((doc_id + 3) % 6) - 2,
        ((3 * doc_id) % 9) - 4,
    )


def h264_wpixel_mv(doc_id: int, lst: int) -> tuple[int, int]:
    """The weighted-pixel B picture's global quarter-pel MV for list
    ``lst``."""
    ix = ((doc_id + 5 + 4 * lst) % 13) - 6
    iy = ((2 * doc_id + 2 + 4 * lst) % 9) - 4
    fx = (doc_id + 1 + 2 * lst) % 4
    fy = (3 * doc_id + 2 * lst) % 4
    return 4 * ix + fx, 4 * iy + fy


def make_h264_wpixel_bytes(doc_id: int) -> bytes:
    """H.264 Annex-B stream exercising EXPLICIT WEIGHTED prediction
    over pixel planes (ITU-T H.264 7.3.3.2 + 8.4.2.3.2): the PPS
    sets weighted_pred_flag 1 / weighted_bipred_idc 1, so the P
    slice carries a pred_weight_table (identity via
    luma_weight_l0_flag 0) and the B slice carries REAL per-list
    (weight, offset) pairs under a 0..2 denominator — weights
    include zero and negatives.  Same IDR -> P -> B pixel shape as
    ``make_h264_bpixel_bytes`` with its own plane/MV closed forms."""
    from .decode import _h264_mvp

    mb_w, mb_h = 3 + doc_id % 2, 2 + doc_id % 2
    w_px, h_px = 16 * mb_w, 16 * mb_h
    n_mbs = mb_w * mb_h
    units = [
        _h264_nal(
            3, 7,
            _h264_sps_from_fields(
                66, 10, mb_w - 1, mb_h - 1, max_ref=2, poc_type=0
            ),
            0,
        ),
        _h264_nal(3, 8, h264_weighted_pps_rbsp(doc_id), 1),
    ]

    # IDR (poc 0)
    import numpy as np

    arr = (16 + (5 * np.arange(w_px)[None, :]
                 + 7 * np.arange(h_px)[:, None]
                 + 11 * doc_id) % 200).astype(np.uint8)
    w = MsbWriter()
    w.ue(0); w.ue(7); w.ue(0)
    w.u(0, 4)
    w.ue(0)
    w.u(0, 4)      # pic_order_cnt_lsb = 0
    w.u(0, 2)      # dec_ref_pic_marking pair
    w.se(0)
    w.ue(25)
    w.align()
    parts = [w.to_bytes()]
    for m in range(n_mbs):
        if m:
            parts.append(b"\x0d\x00")
        my, mx = (m // mb_w) * 16, (m % mb_w) * 16
        parts.append(arr[my : my + 16, mx : mx + 16].tobytes())
        parts.append(bytes([128]) * 128)
    parts.append(b"\x80")
    units.append(_h264_nal(3, 5, b"".join(parts), 2))

    # P (poc 4, reference): identity pred_weight_table, uniform MV
    pmv = (4 * (((3 * doc_id) % 9) - 4), 4 * ((doc_id % 7) - 3))
    dp = (doc_id + 1) % 3
    w = MsbWriter()
    w.ue(0); w.ue(5); w.ue(0)
    w.u(1, 4)      # frame_num
    w.u(4, 4)      # pic_order_cnt_lsb = 4
    w.u(0, 1)      # num_ref_idx_active_override_flag
    w.u(0, 1)      # ref_pic_list_modification_flag_l0
    w.ue(dp)       # pred_weight_table: luma_log2_weight_denom
    w.ue(0)        # chroma_log2_weight_denom
    w.u(0, 1)      # luma_weight_l0_flag: identity (1 << dp, 0)
    w.u(0, 1)      # chroma_weight_l0_flag
    w.u(0, 1)      # adaptive_ref_pic_marking_mode_flag
    w.se(0)
    for m in range(n_mbs):
        w.ue(0)
        w.ue(0)    # P_L0_16x16
        w.se(pmv[0] if m == 0 else 0)
        w.se(pmv[1] if m == 0 else 0)
        w.ue(0)
    units.append(_h264_nal(2, 1, w.rbsp_trailing(), 3))

    # B (poc 2, non-reference): REAL weights, kinds cycle l0/l1/bi
    db, w0, o0, w1, o1 = h264_wpixel_weights(doc_id)
    mv0, mv1 = h264_wpixel_mv(doc_id, 0), h264_wpixel_mv(doc_id, 1)
    w = MsbWriter()
    w.ue(0); w.ue(6); w.ue(0)
    w.u(2, 4)      # frame_num
    w.u(2, 4)      # pic_order_cnt_lsb = 2
    w.u(1, 1)      # direct_spatial_mv_pred_flag
    w.u(0, 1)      # num_ref_idx_active_override_flag
    w.u(0, 1)      # ref_pic_list_modification_flag_l0
    w.u(0, 1)      # ref_pic_list_modification_flag_l1
    w.ue(db)       # pred_weight_table: luma_log2_weight_denom
    w.ue(0)        # chroma_log2_weight_denom
    w.u(1, 1)      # luma_weight_l0_flag
    w.se(w0)
    w.se(o0)
    w.u(0, 1)      # chroma_weight_l0_flag
    w.u(1, 1)      # luma_weight_l1_flag
    w.se(w1)
    w.se(o1)
    w.u(0, 1)      # chroma_weight_l1_flag
    w.se(0)        # slice_qp_delta (non-ref: no marking)
    mbs_l0: list = [None] * n_mbs
    mbs_l1: list = [None] * n_mbs
    for m in range(n_mbs):
        kind = (doc_id + m) % 3
        w.ue(0)
        if kind == 0:
            w.ue(1)
            mvp = _h264_mvp(mbs_l0, m, mb_w, 0)
            w.se(mv0[0] - mvp[0]); w.se(mv0[1] - mvp[1])
            mbs_l0[m] = (0, mv0)
            mbs_l1[m] = (-1, (0, 0))
        elif kind == 1:
            w.ue(2)
            mvp = _h264_mvp(mbs_l1, m, mb_w, 0)
            w.se(mv1[0] - mvp[0]); w.se(mv1[1] - mvp[1])
            mbs_l0[m] = (-1, (0, 0))
            mbs_l1[m] = (0, mv1)
        else:
            w.ue(3)
            mvp = _h264_mvp(mbs_l0, m, mb_w, 0)
            w.se(mv0[0] - mvp[0]); w.se(mv0[1] - mvp[1])
            mvp = _h264_mvp(mbs_l1, m, mb_w, 0)
            w.se(mv1[0] - mvp[0]); w.se(mv1[1] - mvp[1])
            mbs_l0[m] = (0, mv0)
            mbs_l1[m] = (0, mv1)
        w.ue(0)
    units.append(_h264_nal(0, 1, w.rbsp_trailing(), 4))
    return b"".join(units)


def h264_chroma_dims(doc_id: int) -> tuple[int, int, int]:
    """(mb_w, mb_h, n_pairs) for the eighth-pel chroma fixture."""
    return 3 + doc_id % 2, 2 + doc_id % 2, 2


def h264_chroma_luma(doc_id: int, f: int, x: int, y: int) -> int:
    """Luma plane closed form of pair f."""
    return 16 + (3 * x + 5 * y + 7 * doc_id + 19 * f) % 200


def h264_chroma_cb(doc_id: int, f: int, cx: int, cy: int) -> int:
    """Cb plane closed form (half-resolution coordinates)."""
    return 16 + (7 * cx + 5 * cy + 9 * doc_id + 17 * f) % 200


def h264_chroma_cr(doc_id: int, f: int, cx: int, cy: int) -> int:
    """Cr plane closed form (half-resolution coordinates)."""
    return 16 + (2 * cx + 11 * cy + 5 * doc_id + 23 * f) % 180


def h264_chroma_mv(doc_id: int, f: int) -> tuple[int, int]:
    """Pair f's global quarter-pel MV: integer parts sweep -14..14 /
    -10..10 full-pel and the quarter phases cycle; because chroma
    interprets the same value at half resolution, the EIGHTH-pel
    chroma phase (mv & 7) additionally depends on the integer part's
    parity, so the fixture covers the full 0..7 phase range."""
    ix = ((doc_id + 5 * f) % 29) - 14
    iy = ((2 * doc_id + 7 * f) % 21) - 10
    fx = (doc_id + 2 * f) % 4
    fy = (3 * doc_id + f) % 4
    return 4 * ix + fx, 4 * iy + fy


def make_h264_chroma_bytes(doc_id: int) -> bytes:
    """H.264 Annex-B stream exercising EIGHTH-PEL chroma motion
    compensation (ITU-T H.264 8.4.1.4 + 8.4.2.2.2 final equation):
    I_PCM IDRs carry per-pixel luma AND per-pixel 4:2:0 Cb/Cr
    planes; each P picture's macroblocks share a global quarter-pel
    MV, which the decoder must apply to chroma unscaled (eighth-pel
    at half resolution) through the bilinear blend with clamped
    borders.  Same slice structure as ``make_h264_fracpel_bytes``."""
    mb_w, mb_h, n_pairs = h264_chroma_dims(doc_id)
    w_px, h_px = 16 * mb_w, 16 * mb_h
    n_mbs = mb_w * mb_h
    units = [
        _h264_nal(3, 7, _h264_sps_from_fields(66, 10, mb_w - 1, mb_h - 1), 0),
        _h264_nal(3, 8, h264_pps_rbsp(doc_id), 1),
    ]
    idx = 2
    import numpy as np

    xs = np.arange(w_px)[None, :]
    ys = np.arange(h_px)[:, None]
    cxs = np.arange(w_px // 2)[None, :]
    cys = np.arange(h_px // 2)[:, None]
    for f in range(n_pairs):
        plane = 16 + (3 * xs + 5 * ys + 7 * doc_id + 19 * f) % 200
        cb = 16 + (7 * cxs + 5 * cys + 9 * doc_id + 17 * f) % 200
        cr = 16 + (2 * cxs + 11 * cys + 5 * doc_id + 23 * f) % 180
        units.append(
            _h264_nal(3, 5, _h264_idr_pixels_rbsp(f, plane, cb, cr), idx)
        )
        idx += 1
        mvx, mvy = h264_chroma_mv(doc_id, f)
        w = MsbWriter()
        w.ue(0)        # first_mb_in_slice
        w.ue(5)        # slice_type: P
        w.ue(0)        # pic_parameter_set_id
        w.u(1, 4)      # frame_num
        w.u(0, 1)      # num_ref_idx_active_override_flag
        w.u(0, 1)      # ref_pic_list_modification_flag_l0
        w.u(0, 1)      # adaptive_ref_pic_marking_mode_flag
        w.se(0)        # slice_qp_delta
        for m in range(n_mbs):
            w.ue(0)    # mb_skip_run
            w.ue(0)    # mb_type: P_L0_16x16
            w.se(mvx if m == 0 else 0)
            w.se(mvy if m == 0 else 0)
            w.ue(0)    # coded_block_pattern
        units.append(_h264_nal(2, 1, w.rbsp_trailing(), idx))
        idx += 1
    return b"".join(units)


def make_h264_fracpel_bytes(doc_id: int) -> bytes:
    """H.264 Annex-B stream exercising FRACTIONAL-PEL luma motion
    compensation (ITU-T H.264 8.4.2.2.1/8.4.2.2.2): n_pairs picture
    pairs, each an all-I_PCM IDR carrying a per-pixel closed-form
    plane followed by one P picture whose P_L0_16x16 macroblocks all
    share a global quarter-pel MV (first MB transmits the full mvd
    against the zero predictor; every later MB's spatial median
    predictor equals the MV, so its mvd is 0 — the decoder must
    re-run 8.4.1.3 to agree).  Integer MV parts reach past the
    picture edge (the 8.4.2.2.1 coordinate clamp) and the fractional
    phases cycle all 16 (fx, fy) combinations, so the decoder's
    6-tap half-pel + bilinear quarter-pel chain is fully exercised;
    the SQL oracle recomputes the same filter arithmetic from the
    plane closed form."""
    mb_w, mb_h, n_pairs = h264_fracpel_dims(doc_id)
    w_px, h_px = 16 * mb_w, 16 * mb_h
    n_mbs = mb_w * mb_h
    units = [
        _h264_nal(3, 7, _h264_sps_from_fields(66, 10, mb_w - 1, mb_h - 1), 0),
        _h264_nal(3, 8, h264_pps_rbsp(doc_id), 1),
    ]
    idx = 2
    import numpy as np

    xs = np.arange(w_px)[None, :]
    ys = np.arange(h_px)[:, None]
    for f in range(n_pairs):
        plane = 16 + (3 * xs + 7 * ys + 11 * doc_id + 31 * f) % 200
        units.append(_h264_nal(3, 5, _h264_idr_pixels_rbsp(f, plane), idx))
        idx += 1
        mvx, mvy = h264_fracpel_mv(doc_id, f)
        w = MsbWriter()
        w.ue(0)        # first_mb_in_slice
        w.ue(5)        # slice_type: P
        w.ue(0)        # pic_parameter_set_id
        w.u(1, 4)      # frame_num
        w.u(0, 1)      # num_ref_idx_active_override_flag
        w.u(0, 1)      # ref_pic_list_modification_flag_l0
        w.u(0, 1)      # adaptive_ref_pic_marking_mode_flag
        w.se(0)        # slice_qp_delta
        for m in range(n_mbs):
            w.ue(0)    # mb_skip_run
            w.ue(0)    # mb_type: P_L0_16x16
            w.se(mvx if m == 0 else 0)  # mvd_l0 x
            w.se(mvy if m == 0 else 0)  # mvd_l0 y
            w.ue(0)    # coded_block_pattern: codeNum 0
        units.append(_h264_nal(2, 1, w.rbsp_trailing(), idx))
        idx += 1
    return b"".join(units)
