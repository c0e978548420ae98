"""LZ4 frame decoding (the lz4 Frame & Block format specifications)
— the low-latency compression format training pipelines ship beside
zstd (.jsonl.lz4 shards, Kafka/Arrow payloads), decoded from the byte
level with NO codec library: frame descriptors (version, block
independence, the three checksum flags, content size, block max
size), the header-checksum byte, compressed and uncompressed blocks,
the token/extension sequence layer with overlap-safe match copies,
BLOCK-LINKED mode (matches reaching into earlier blocks of the same
frame), skippable frames, and REAL XXH32 checksums (implemented from
the published constants, validated against the published vectors).

Everything derives from the public lz4 specs; there are no empirical
tables anywhere in the format.

Reference scope note: the reference (sumaniitm/open-source-etl)
delegates storage formats to its warehouse; this module is part of
the training-data-pipeline surface the brief adds.

Scale posture: per-row decoders over binary payloads on the codec
host (``multimodal/host.py``) — no cross-row state; identical to the
other container extractors (SCALE.md §9f/§9h).
"""
from __future__ import annotations

import struct

from ..multimodal.host import decoder

# XXH32 primes (the published xxHash32 constants)
_P1 = 2654435761
_P2 = 2246822519
_P3 = 3266489917
_P4 = 668265263
_P5 = 374761393
_M32 = (1 << 32) - 1


def _rotl32(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _M32


def xxh32(data: bytes, seed: int = 0) -> int:
    """xxHash32 — LZ4 frames checksum their descriptor, blocks, and
    content with this."""
    n = len(data)
    pos = 0
    if n >= 16:
        v1 = (seed + _P1 + _P2) & _M32
        v2 = (seed + _P2) & _M32
        v3 = seed & _M32
        v4 = (seed - _P1) & _M32
        while pos + 16 <= n:
            l1, l2, l3, l4 = struct.unpack_from("<IIII", data, pos)
            v1 = (_rotl32((v1 + l1 * _P2) & _M32, 13) * _P1) & _M32
            v2 = (_rotl32((v2 + l2 * _P2) & _M32, 13) * _P1) & _M32
            v3 = (_rotl32((v3 + l3 * _P2) & _M32, 13) * _P1) & _M32
            v4 = (_rotl32((v4 + l4 * _P2) & _M32, 13) * _P1) & _M32
            pos += 16
        acc = (
            _rotl32(v1, 1) + _rotl32(v2, 7)
            + _rotl32(v3, 12) + _rotl32(v4, 18)
        ) & _M32
    else:
        acc = (seed + _P5) & _M32
    acc = (acc + n) & _M32
    while pos + 4 <= n:
        (lane,) = struct.unpack_from("<I", data, pos)
        acc = (_rotl32((acc + lane * _P3) & _M32, 17) * _P4) & _M32
        pos += 4
    while pos < n:
        acc = (_rotl32((acc + data[pos] * _P5) & _M32, 11) * _P1) & _M32
        pos += 1
    acc ^= acc >> 15
    acc = (acc * _P2) & _M32
    acc ^= acc >> 13
    acc = (acc * _P3) & _M32
    acc ^= acc >> 16
    return acc


LZ4_MAGIC = 0x184D2204
SKIPPABLE_LO = 0x184D2A50


def lz4_decompress_block(
    doc_id: int, raw: bytes, window: bytes = b""
) -> bytes:
    """One LZ4 block (the Block format spec): token bytes splitting
    into a literal length (high nibble, 15 chaining 255-extensions)
    and a match length (low nibble + 4, same extension rule), the
    2-byte little-endian match offset, and overlap-safe copies
    against the decoded output prefixed by ``window`` (non-empty in
    block-linked frames).  The final sequence is literals-only."""
    out = bytearray()
    pos = 0
    n = len(raw)
    while pos < n:
        token = raw[pos]
        pos += 1
        lit_len = token >> 4
        if lit_len == 15:
            while True:
                if pos >= n:
                    raise ValueError(
                        f"doc {doc_id}: literal-length extension "
                        "overruns the block"
                    )
                b = raw[pos]
                pos += 1
                lit_len += b
                if b != 255:
                    break
        if pos + lit_len > n:
            raise ValueError(
                f"doc {doc_id}: literals overrun the block"
            )
        out += raw[pos : pos + lit_len]
        pos += lit_len
        if pos == n:
            break  # final literals-only sequence
        if pos + 2 > n:
            raise ValueError(
                f"doc {doc_id}: truncated match offset"
            )
        offset = raw[pos] | (raw[pos + 1] << 8)
        pos += 2
        if offset == 0:
            raise ValueError(f"doc {doc_id}: zero match offset")
        mlen = (token & 15) + 4
        if (token & 15) == 15:
            while True:
                if pos >= n:
                    raise ValueError(
                        f"doc {doc_id}: match-length extension "
                        "overruns the block"
                    )
                b = raw[pos]
                pos += 1
                mlen += b
                if b != 255:
                    break
        win = len(window) + len(out)
        if offset > win:
            raise ValueError(
                f"doc {doc_id}: match offset {offset} reaches before "
                "the window"
            )
        for _ in range(mlen):
            at = len(window) + len(out) - offset
            out.append(
                window[at] if at < len(window)
                else out[at - len(window)]
            )
    return bytes(out)


def parse_lz4(
    doc_id: int, raw: bytes
) -> tuple[int, int, int, int, int, int]:
    """Walk concatenated LZ4 frames to (n_frames, n_skippable,
    n_blocks, content_bytes, content_sum, n_checksums): magic
    dispatch, the frame descriptor (version 01, block-independence,
    the block/content checksum flags, optional content size, the
    XXH32-derived header-checksum byte VERIFIED), the block loop
    (high-bit-flagged uncompressed blocks, compressed blocks through
    the sequence layer, per-block XXH32 when flagged, block-LINKED
    windows when independence is off), the EndMark, the content-size
    cross-check, and the content XXH32.  n_checksums counts VERIFIED
    content checksums (header and block checksums always verify)."""
    pos = 0
    n_frames = n_skip = n_blocks = c_bytes = c_sum = n_ck = 0
    while pos < len(raw):
        if pos + 4 > len(raw):
            raise ValueError(f"doc {doc_id}: truncated frame magic")
        (magic,) = struct.unpack_from("<I", raw, pos)
        pos += 4
        if (magic & 0xFFFFFFF0) == SKIPPABLE_LO:
            if pos + 4 > len(raw):
                raise ValueError(
                    f"doc {doc_id}: truncated skippable frame size"
                )
            (size,) = struct.unpack_from("<I", raw, pos)
            pos += 4 + size
            if pos > len(raw):
                raise ValueError(
                    f"doc {doc_id}: skippable frame overruns the file"
                )
            n_skip += 1
            continue
        if magic != LZ4_MAGIC:
            raise ValueError(
                f"doc {doc_id}: bad lz4 magic {magic:#x} at {pos - 4}"
            )
        desc_start = pos
        flg = raw[pos]
        bd = raw[pos + 1]
        pos += 2
        if (flg >> 6) != 1:
            raise ValueError(
                f"doc {doc_id}: unsupported lz4 frame version "
                f"{flg >> 6}"
            )
        b_indep = bool(flg & 0x20)
        b_checksum = bool(flg & 0x10)
        c_size_flag = bool(flg & 0x08)
        c_checksum = bool(flg & 0x04)
        if flg & 0x02:
            raise ValueError(f"doc {doc_id}: reserved FLG bit set")
        if flg & 0x01:
            raise NotImplementedError(
                "lz4 dictionary-ID frames not implemented"
            )
        if bd & 0x8F:
            raise ValueError(f"doc {doc_id}: reserved BD bits set")
        bmax_code = (bd >> 4) & 7
        if not 4 <= bmax_code <= 7:
            raise ValueError(
                f"doc {doc_id}: invalid block max-size code "
                f"{bmax_code}"
            )
        bmax = 1 << (8 + 2 * bmax_code)
        content_size = None
        if c_size_flag:
            (content_size,) = struct.unpack_from("<Q", raw, pos)
            pos += 8
        hc = raw[pos]
        pos += 1
        want_hc = (xxh32(raw[desc_start:pos - 1]) >> 8) & 0xFF
        if hc != want_hc:
            raise ValueError(
                f"doc {doc_id}: frame header checksum mismatch"
            )
        content = bytearray()
        while True:
            if pos + 4 > len(raw):
                raise ValueError(
                    f"doc {doc_id}: truncated block size"
                )
            (bsize_raw,) = struct.unpack_from("<I", raw, pos)
            pos += 4
            if bsize_raw == 0:
                break  # EndMark
            uncompressed = bool(bsize_raw & 0x80000000)
            bsize = bsize_raw & 0x7FFFFFFF
            if bsize > bmax:
                raise ValueError(
                    f"doc {doc_id}: block size {bsize} above the "
                    f"declared {bmax} maximum"
                )
            if pos + bsize > len(raw):
                raise ValueError(
                    f"doc {doc_id}: block overruns the file"
                )
            block = raw[pos : pos + bsize]
            pos += bsize
            if b_checksum:
                if pos + 4 > len(raw):
                    raise ValueError(
                        f"doc {doc_id}: truncated block checksum"
                    )
                (want,) = struct.unpack_from("<I", raw, pos)
                pos += 4
                if xxh32(block) != want:
                    raise ValueError(
                        f"doc {doc_id}: block checksum mismatch"
                    )
            if uncompressed:
                content += block
            else:
                content += lz4_decompress_block(
                    doc_id, block,
                    b"" if b_indep else bytes(content),
                )
            n_blocks += 1
        if content_size is not None and content_size != len(content):
            raise ValueError(
                f"doc {doc_id}: content size {content_size} != "
                f"decoded {len(content)}"
            )
        if c_checksum:
            if pos + 4 > len(raw):
                raise ValueError(
                    f"doc {doc_id}: truncated content checksum"
                )
            (want,) = struct.unpack_from("<I", raw, pos)
            pos += 4
            if xxh32(bytes(content)) != want:
                raise ValueError(
                    f"doc {doc_id}: content checksum mismatch"
                )
            n_ck += 1
        n_frames += 1
        c_bytes += len(content)
        c_sum += sum(content)
    return n_frames, n_skip, n_blocks, c_bytes, c_sum, n_ck


# ---------------------------------------------------------------------
# fixture synthesis (the encoder twin the oracle restates)

def lz4_n_frames(doc_id: int) -> int:
    return 1 + doc_id % 3


def lz4_fields(doc_id: int, i: int) -> tuple[int, int, int, int, int]:
    """(n_lit, match_len, offset, tail, n_unc) closed forms of frame
    i's blocks."""
    k = doc_id + i
    return (
        20 + (doc_id + 5 * i) % 40,  # prefix literals (>= 15: token ext)
        8 + k % 10,                  # match length (>= 4)
        5 + k % 12,                  # offset (may overlap: o < m)
        6 + k % 7,                   # tail literals (>= 5: spec rule)
        10 + (doc_id + 3 * i) % 20,  # uncompressed block bytes
    )


def lz4_block1_content(doc_id: int, i: int) -> bytes:
    """Frame i's compressed block decoded: prefix literals, an
    (overlap-capable) match into them, tail literals."""
    n_lit, m, o, t, _u = lz4_fields(doc_id, i)
    k = doc_id + i
    lits = bytes((k + j) % 256 for j in range(n_lit))
    out = bytearray(lits)
    for _ in range(m):
        out.append(out[len(out) - o])
    out += bytes((3 * doc_id + i + j) % 256 for j in range(t))
    return bytes(out)


def lz4_block2_content(doc_id: int, i: int) -> bytes:
    """Frame i's second block: uncompressed bytes, or — on linked
    frames ((doc+i) % 3 == 2) — a compressed block whose match
    reaches INTO BLOCK 1 through the linked window, then the
    uncompressed bytes as literals."""
    _n, m, _o, _t, u = lz4_fields(doc_id, i)
    unc = bytes((2 * doc_id + i + j) % 256 for j in range(u))
    if (doc_id + i) % 3 == 2:
        b1 = lz4_block1_content(doc_id, i)
        return b1[2 : 2 + m] + unc
    return unc


def _lz4_sequences(doc_id: int, i: int, linked: bool) -> bytes:
    """Encode the compressed block: one literal+match sequence then
    the literals-only tail (block 1), or — linked block 2 — a
    zero-literal match into block 1 then the literal tail."""
    n_lit, m, o, t, u = lz4_fields(doc_id, i)
    k = doc_id + i

    def lengths(val: int) -> tuple[int, bytes]:
        if val < 15:
            return val, b""
        ext = bytearray()
        rest = val - 15
        while rest >= 255:
            ext.append(255)
            rest -= 255
        ext.append(rest)
        return 15, bytes(ext)

    out = bytearray()
    if linked:
        # match into the PREVIOUS block: offset reaches back past the
        # current block's start; source = block1[2 : 2+m]
        b1_len = len(lz4_block1_content(doc_id, i))
        offset = b1_len - 2
        ln, lext = lengths(0)
        mn, mext = lengths(m - 4)
        out.append((ln << 4) | mn)
        out += lext
        out += struct.pack("<H", offset)
        out += mext
        # literals-only tail: the uncompressed-content bytes
        tail = bytes((2 * doc_id + i + j) % 256 for j in range(u))
        ln, lext = lengths(len(tail))
        out.append(ln << 4)
        out += lext
        out += tail
        return bytes(out)
    lits = bytes((k + j) % 256 for j in range(n_lit))
    ln, lext = lengths(n_lit)
    mn, mext = lengths(m - 4)
    out.append((ln << 4) | mn)
    out += lext
    out += lits
    out += struct.pack("<H", o)
    out += mext
    tail = bytes((3 * doc_id + i + j) % 256 for j in range(t))
    ln, lext = lengths(len(tail))
    out.append(ln << 4)
    out += lext
    out += tail
    return bytes(out)


def make_lz4_bytes(doc_id: int) -> bytes:
    """Concatenated LZ4 frames: frame i carries a COMPRESSED block
    (literals, an overlap-capable match, a literal tail — lengths
    crossing the 15-threshold so token extensions decode) and a
    SECOND block — uncompressed normally, but on linked frames
    ((doc+i) % 3 == 2, block-independence OFF) compressed with a
    match reaching into block 1.  Frame shapes vary: content size
    present on odd frames, block checksums when doc % 3 == 0,
    content checksums when (doc+i) % 2 == 0; every fourth doc leads
    with a skippable frame."""
    out = bytearray()
    if doc_id % 4 == 1:
        meta = b"LMET" + bytes((doc_id % 256,)) * (doc_id % 5)
        out += struct.pack(
            "<II", SKIPPABLE_LO | (doc_id % 16), len(meta)
        )
        out += meta
    for i in range(lz4_n_frames(doc_id)):
        k = doc_id + i
        linked = k % 3 == 2
        b_checksum = doc_id % 3 == 0
        c_checksum = k % 2 == 0
        c_size = i % 2 == 1
        content = lz4_block1_content(doc_id, i) + lz4_block2_content(
            doc_id, i
        )
        flg = (1 << 6) | (0 if linked else 0x20)
        flg |= 0x10 if b_checksum else 0
        flg |= 0x08 if c_size else 0
        flg |= 0x04 if c_checksum else 0
        bd = 4 << 4  # 64 KB block max
        desc = bytes((flg, bd))
        if c_size:
            desc += struct.pack("<Q", len(content))
        out += struct.pack("<I", LZ4_MAGIC)
        out += desc
        out += bytes(((xxh32(desc) >> 8) & 0xFF,))
        block1 = _lz4_sequences(doc_id, i, linked=False)
        if linked:
            block2 = _lz4_sequences(doc_id, i, linked=True)
            blocks = [(block1, False), (block2, False)]
        else:
            unc = lz4_block2_content(doc_id, i)
            blocks = [(block1, False), (unc, True)]
        for data, uncompressed in blocks:
            out += struct.pack(
                "<I", len(data) | (0x80000000 if uncompressed else 0)
            )
            out += data
            if b_checksum:
                out += struct.pack("<I", xxh32(data))
        out += struct.pack("<I", 0)  # EndMark
        if c_checksum:
            out += struct.pack("<I", xxh32(content))
    return bytes(out)


LZ4_SCHEMA = (
    "doc_id long, n_frames long, n_skippable long, n_blocks long, "
    "content_bytes long, content_sum long, n_checksums long"
)


@decoder(LZ4_SCHEMA)
def decode_lz4():
    """One concatenated .lz4 file per row: ``parse_lz4``'s counts."""
    return lambda doc_id, raw: [parse_lz4(doc_id, raw)]
