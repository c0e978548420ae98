"""Zstandard (RFC 8878) frame decoding — the compression format
web-scale training corpora actually ship (.jsonl.zst shards), decoded
from the byte level up with NO codec library: frame headers, block
framing, raw/RLE blocks, Huffman-coded literals (direct AND
FSE-compressed weight headers via the two-state interleaved stream),
FSE-coded sequences with the spec's predefined distributions and
FSE-described tables (spec-form low-bits-threshold count coding),
sequence execution against the window, dictionary frames (raw-content
and formatted, RFC 8878 §5), and XXH64 content checksums (the spec's
own hash, implemented from its published constants).

Everything here derives from RFC 8878's algorithms and spec-literal
tables; the predefined FSE distributions carry a structural gate (they
must normalize to exactly 1 << accuracy_log counting -1 entries as
one slot — asserted in tests), the same clean-room standard as the
repo's other entropy tables.

Reference scope note: the reference (sumaniitm/open-source-etl)
delegates storage formats to its warehouse; this module is part of
the training-data-pipeline surface the brief adds.

Scale posture: per-row decoders over binary payloads on the codec
host (``multimodal/host.py``) — no cross-row state; identical to the
other container extractors (SCALE.md §9f/§9h).
"""
from __future__ import annotations

import functools
import struct

from ..multimodal.bits import (
    BackReader, LsbReader, LsbWriter, MsbWriter, backward_bytes,
    canonical_codes, peek_lut,
)
from ..multimodal.host import decoder

# XXH64 (the xxHash64 primes from the reference specification)
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    acc = (acc + lane * _P2) & _M64
    return (_rotl(acc, 31) * _P1) & _M64


def xxh64(data: bytes, seed: int = 0) -> int:
    """xxHash64 over ``data`` — RFC 8878 frames checksum their
    decoded content with this (lower 4 bytes stored)."""
    n = len(data)
    pos = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M64
        v2 = (seed + _P2) & _M64
        v3 = seed
        v4 = (seed - _P1) & _M64
        while pos + 32 <= n:
            l1, l2, l3, l4 = struct.unpack_from("<QQQQ", data, pos)
            v1, v2 = _round(v1, l1), _round(v2, l2)
            v3, v4 = _round(v3, l3), _round(v4, l4)
            pos += 32
        acc = (
            _rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)
        ) & _M64
        for v in (v1, v2, v3, v4):
            acc = ((acc ^ _round(0, v)) * _P1 + _P4) & _M64
    else:
        acc = (seed + _P5) & _M64
    acc = (acc + n) & _M64
    while pos + 8 <= n:
        (lane,) = struct.unpack_from("<Q", data, pos)
        acc = ((_rotl(acc ^ _round(0, lane), 27) * _P1) + _P4) & _M64
        pos += 8
    if pos + 4 <= n:
        (lane,) = struct.unpack_from("<I", data, pos)
        acc = ((_rotl(acc ^ (lane * _P1) & _M64, 23) * _P2) + _P3) & _M64
        pos += 4
    while pos < n:
        acc = ((_rotl(acc ^ (data[pos] * _P5) & _M64, 11) * _P1)) & _M64
        pos += 1
    acc ^= acc >> 33
    acc = (acc * _P2) & _M64
    acc ^= acc >> 29
    acc = (acc * _P3) & _M64
    acc ^= acc >> 32
    return acc


ZSTD_MAGIC = 0xFD2FB528
SKIPPABLE_LO = 0x184D2A50


def zstd_n_frames(doc_id: int) -> int:
    return 1 + doc_id % 3


def zstd_raw_payload(doc_id: int, i: int) -> bytes:
    """Frame i's RAW-block payload: deterministic bytes with a
    closed-form sum."""
    n = 20 + (doc_id + 5 * i) % 40
    return bytes((doc_id + i + j) % 256 for j in range(n))


def zstd_rle_fields(doc_id: int, i: int) -> tuple[int, int]:
    """(byte, run_length) of frame i's RLE block."""
    return 65 + (doc_id + i) % 26, 10 + (doc_id + 3 * i) % 50


def zstd_lit_fields(doc_id: int, i: int) -> tuple[int, int, int, int, int]:
    """(n_lit, ll0, off0, ml1, ml2) closed forms of frame i's
    compressed block."""
    k = doc_id + i
    n_lit = 12 + k % 8
    ll0 = 4 + k % 4
    return n_lit, ll0, ll0 + 3 + k % 7, 4 + k % 6, 3 + k % 4


def _zstd_huffman_enc(fse_w: bool = False) -> tuple[bytes, dict, list]:
    """The fixture's 8-symbol (values 0..7) Huffman table: header
    bytes, encoder codes by symbol and per-symbol bit counts.  Direct
    4-bit weights (all weight 1, symbol 7 implied) by default; with
    ``fse_w`` the weights are [2,1,1,1,1,1,1] (symbol 7's weight-4
    implied) and the header is FSE-COMPRESSED (RFC 4.2.1.2) — a table
    description plus the two-state interleaved backward bitstream."""
    weights = [2, 1, 1, 1, 1, 1, 1] if fse_w else [1] * 7
    table, nbits = _huffman_weights_to_codes(-1, weights)
    codes = {s: code for (_ln, code), s in table.items()}
    if fse_w:
        wtab = _fse_decode_table(
            _WEIGHTS_FSE_DIST, _WEIGHTS_FSE_ACCLOG
        )
        body = _write_fse_description(
            list(_WEIGHTS_FSE_DIST), _WEIGHTS_FSE_ACCLOG
        ) + _fse_encode_interleaved(
            weights, wtab, _WEIGHTS_FSE_ACCLOG
        )
        if len(body) >= 128:
            raise ValueError("compressed weight header too large")
        hdr = bytes((len(body),)) + body
    else:
        hdr = bytes((127 + 7,)) + bytes(
            (weights[j] << 4) | (weights[j + 1] if j + 1 < 7 else 0)
            for j in range(0, 7, 2)
        )
    return hdr, codes, nbits


def _zstd_compressed_block(
    doc_id: int, i: int, h_len: int, last: bool = True
) -> bytes:
    """Encode frame i's compressed block: Huffman literals (1-stream,
    or 4-stream when (doc+i) % 3 == 0) and either predefined-FSE
    sequences (three: an RLE-run match, a far match into the raw
    payload, and a Repeat1 reuse) or RLE-mode sequences when
    (doc+i) % 4 == 2.  ``h_len`` is the frame content length decoded
    so far (the raw + RLE blocks) — the window the offsets reach
    into."""
    k = doc_id + i
    n_lit, ll0, off0, ml1, ml2 = zstd_lit_fields(doc_id, i)
    lits = bytes((k + j) % 8 for j in range(n_lit))
    # every k % 5 == 1 frame ships its weights FSE-compressed (the
    # header shape real zstd encoders emit on nearly every block);
    # the literal VALUES are unchanged, so content closed forms hold
    hdr, codes, nbits = _zstd_huffman_enc(fse_w=k % 5 == 1)
    four_stream = k % 3 == 0
    rle_seq = (not four_stream) and k % 4 == 2

    def enc_stream(symbols: bytes) -> bytes:
        w = MsbWriter()
        for s in symbols:
            w.u(codes[s], nbits[s])
        return backward_bytes(w)

    if four_stream:
        per = (n_lit + 3) // 4
        chunks = [lits[j : j + per] for j in range(0, 3 * per, per)]
        chunks.append(lits[3 * per :])
        streams = [enc_stream(c) for c in chunks]
        body = (
            hdr
            + struct.pack(
                "<HHH", len(streams[0]), len(streams[1]),
                len(streams[2]),
            )
            + b"".join(streams)
        )
        csize = len(body)
        h = (2 | (1 << 2) | (n_lit << 4) | (csize << 14)) & 0xFFFFFF
        lit_sec = struct.pack("<I", h)[:3] + body
    else:
        body = hdr + enc_stream(lits)
        csize = len(body)
        h = (2 | (0 << 2) | (n_lit << 4) | (csize << 14)) & 0xFFFFFF
        lit_sec = struct.pack("<I", h)[:3] + body

    w = MsbWriter()
    if rle_seq:
        # RLE-mode tables: fixed codes ll=5, ml code 7 (ml 10),
        # of code 4; both sequences' 4 extra bits select offset 15
        seq = bytes((2,))            # nbSeq
        seq += bytes((0x54,))        # modes: RLE / RLE / RLE
        seq += bytes((5, 4, 7))      # LL, OF, ML symbols (7.3 order)
        for _ in range(2):
            w.u(15 + 3 - (1 << 4), 4)  # of_value 18 -> offset 15
        seq += backward_bytes(w)
        return lit_sec_block(lit_sec, seq, last=int(last))
    ll1 = n_lit - ll0 - 4
    of1 = h_len + ll0 + 3 + ll1 - 3  # source lands at payload byte 3
    ll_codes = [ll0, ll1, 2]
    ml_codes = [0, ml1 - 3, ml2 - 3]
    of_vals = [off0 + 3, of1 + 3, 1]
    of_codes = [v.bit_length() - 1 for v in of_vals]
    described = k % 5 == 4  # variant D: FSE-DESCRIBED LL/ML tables
    if described:
        def custom_dist(codes: list[int], acclog: int) -> list[int]:
            used = sorted(set(codes))
            share = (1 << acclog) // len(used)
            d = [0] * (used[-1] + 1)
            for c in used:
                d[c] = share
            d[used[0]] += (1 << acclog) - share * len(used)
            return d

        ll_dist = custom_dist(ll_codes, 5)
        ml_dist = custom_dist(ml_codes, 5)
        ll_tab = _fse_decode_table(ll_dist, 5)
        ml_tab = _fse_decode_table(ml_dist, 5)
        ll_log = ml_log = 5
        tables = (
            _write_fse_description(ll_dist, 5)
            + _write_fse_description(ml_dist, 5)
        )
        modes = (2 << 6) | (0 << 4) | (2 << 2)
    else:
        ll_tab = ZSTD_LL_TABLE
        ml_tab = ZSTD_ML_TABLE
        ll_log, ml_log = ZSTD_LL_ACCLOG, ZSTD_ML_ACCLOG
        tables = b""
        modes = 0x00
    of_tab = ZSTD_OF_TABLE
    ll_states, ll_upd = _fse_pick_states(ll_tab, ll_codes, doc_id)
    of_states, of_upd = _fse_pick_states(of_tab, of_codes, doc_id)
    ml_states, ml_upd = _fse_pick_states(ml_tab, ml_codes, doc_id)
    w.u(ll_states[0], ll_log)
    w.u(of_states[0], ZSTD_OF_ACCLOG)
    w.u(ml_states[0], ml_log)
    for s in range(3):
        w.u(of_vals[s] - (1 << of_codes[s]), of_codes[s])
        # ml/ll codes here carry no extra bits by construction
        if s < 2:
            w.u(*ll_upd[s])
            w.u(*ml_upd[s])
            w.u(*of_upd[s])
    # table descriptions sit between the modes byte and the bitstream,
    # in LL / OF / ML field order
    seq = bytes((3, modes)) + tables + backward_bytes(w)
    return lit_sec_block(lit_sec, seq, last=int(last))


def lit_sec_block(lit_sec: bytes, seq: bytes, last: int = 1) -> bytes:
    """Wrap literals + sequences sections as one compressed block."""
    payload = lit_sec + seq
    return (
        struct.pack("<I", (len(payload) << 3) | (2 << 1) | last)[:3]
        + payload
    )


def zstd_has_block4(doc_id: int, i: int) -> bool:
    """Frame i carries a SECOND compressed block (treeless literals +
    repeat-mode sequence tables) when (doc+i) % 7 == 3 — excluded on
    RLE-mode frames, whose fixed codes the repeat block's sequence
    does not fit."""
    k = doc_id + i
    rle_mode = k % 3 != 0 and k % 4 == 2
    return k % 7 == 3 and not rle_mode


def _zstd_block4(doc_id: int, i: int) -> bytes:
    """The treeless + repeat-mode block: four literals through the
    FRAME's previous Huffman table (no table header), one sequence
    through the previous LL/OF/ML tables (mode 3), its match pulled
    from the RLE run through the frame window."""
    k = doc_id + i
    n_lit, ll0, off0, ml1, ml2 = zstd_lit_fields(doc_id, i)
    _hdr, codes, nbits = _zstd_huffman_enc(fse_w=k % 5 == 1)
    lits = bytes((k + j) % 8 for j in range(4))
    wlit = MsbWriter()
    for sym in lits:
        wlit.u(codes[sym], nbits[sym])
    body = backward_bytes(wlit)
    h = (3 | (0 << 2) | (4 << 4) | (len(body) << 14)) & 0xFFFFFF
    lit_sec = struct.pack("<I", h)[:3] + body
    # one sequence: ll 2, ml = ml1, offset reaching the RLE run
    c3_len = n_lit + 3 + ml1 + ml2
    of4 = c3_len + ml1 + 3
    described = k % 5 == 4
    if described:
        used_ll = sorted({ll0, n_lit - ll0 - 4, 2})
        used_ml = sorted({0, ml1 - 3, ml2 - 3})

        def custom_dist(used, acclog):
            share = (1 << acclog) // len(used)
            d = [0] * (used[-1] + 1)
            for c in used:
                d[c] = share
            d[used[0]] += (1 << acclog) - share * len(used)
            return d

        ll_tab = _fse_decode_table(custom_dist(used_ll, 5), 5)
        ml_tab = _fse_decode_table(custom_dist(used_ml, 5), 5)
        ll_log = ml_log = 5
    else:
        ll_tab = ZSTD_LL_TABLE
        ml_tab = ZSTD_ML_TABLE
        ll_log, ml_log = ZSTD_LL_ACCLOG, ZSTD_ML_ACCLOG
    of_tab = ZSTD_OF_TABLE
    of_val = of4 + 3
    of_code = of_val.bit_length() - 1
    ll_states, _ = _fse_pick_states(ll_tab, [2], doc_id)
    of_states, _ = _fse_pick_states(of_tab, [of_code], doc_id)
    ml_states, _ = _fse_pick_states(ml_tab, [ml1 - 3], doc_id)
    w = MsbWriter()
    w.u(ll_states[0], ll_log)
    w.u(of_states[0], ZSTD_OF_ACCLOG)
    w.u(ml_states[0], ml_log)
    w.u(of_val - (1 << of_code), of_code)
    seq = bytes((1, 0xFC)) + backward_bytes(w)  # modes: repeat/repeat/repeat
    return lit_sec_block(lit_sec, seq, last=1)


def zstd_block4_content(doc_id: int, i: int) -> bytes:
    """Block 4's decoded content by closed forms."""
    k = doc_id + i
    _n_lit, _ll0, _off0, ml1, _ml2 = zstd_lit_fields(doc_id, i)
    rle_b, _run = zstd_rle_fields(doc_id, i)
    lits = bytes((k + j) % 8 for j in range(4))
    return lits[:2] + bytes((rle_b,)) * ml1 + lits[2:]


def zstd_block3_content(doc_id: int, i: int, h_len: int) -> bytes:
    """The compressed block's decoded content, by the closed forms
    the oracle restates (for tests and the fixture's checksum)."""
    k = doc_id + i
    n_lit, ll0, off0, ml1, ml2 = zstd_lit_fields(doc_id, i)
    lits = bytes((k + j) % 8 for j in range(n_lit))
    rle_byte, _run = zstd_rle_fields(doc_id, i)
    pay = zstd_raw_payload(doc_id, i)
    if k % 3 != 0 and k % 4 == 2:  # RLE-mode sequences
        return (
            lits[:5] + bytes((rle_byte,)) * 10
            + lits[5:10] + bytes((rle_byte,)) * 10
            + lits[10:]
        )
    ll1 = n_lit - ll0 - 4
    return (
        lits[:ll0] + bytes((rle_byte,)) * 3
        + lits[ll0 : ll0 + ll1] + pay[3 : 3 + ml1]
        + lits[ll0 + ll1 : ll0 + ll1 + 2]
        + pay[5 + ml1 : 5 + ml1 + ml2]
        + lits[ll0 + ll1 + 2 :]
    )


def make_zstd_bytes(doc_id: int) -> bytes:
    """Concatenated zstandard frames (RFC 8878 allows and corpus
    shards use back-to-back frames): frame i carries a RAW block then
    an RLE block, a varying frame-header shape (single-segment with
    in-header content size on odd frames, window descriptor
    otherwise), and a REAL XXH64 content checksum on frames with
    (doc + i) even.  Every third doc leads with a SKIPPABLE frame
    (the metadata shape zstd tooling emits) the walker must step
    over."""
    out = bytearray()
    if doc_id % 3 == 0:
        meta = b"ZMET" + bytes((doc_id % 256,)) * (doc_id % 5)
        out += struct.pack("<II", SKIPPABLE_LO | (doc_id % 16), len(meta))
        out += meta
    for i in range(zstd_n_frames(doc_id)):
        raw_payload = zstd_raw_payload(doc_id, i)
        rle_byte, rle_run = zstd_rle_fields(doc_id, i)
        h_len = len(raw_payload) + rle_run
        has4 = zstd_has_block4(doc_id, i)
        block3 = _zstd_compressed_block(doc_id, i, h_len, last=not has4)
        content = (
            raw_payload + bytes((rle_byte,)) * rle_run
            + zstd_block3_content(doc_id, i, h_len)
        )
        if has4:
            block3 += _zstd_block4(doc_id, i)
            content += zstd_block4_content(doc_id, i)
        checksum = (doc_id + i) % 2 == 0
        single_segment = i % 2 == 1
        out += struct.pack("<I", ZSTD_MAGIC)
        if single_segment:
            # FCS field size flag 0 with single-segment: 1-byte FCS
            # (content < 256 here by construction)
            if len(content) > 255:
                raise ValueError("single-segment fixture FCS overflow")
            fhd = 0x20 | (0x04 if checksum else 0)
            out += bytes((fhd, len(content)))
        else:
            fhd = 0x80 | (0x04 if checksum else 0)  # 4-byte plain FCS
            out += bytes((fhd,))
            out += bytes((0x00,))  # window descriptor: 1 KiB window
            out += struct.pack("<I", len(content))
        # blocks: RAW, RLE, then the compressed block (last)
        out += struct.pack(
            "<I", (len(raw_payload) << 3) | (0 << 1) | 0
        )[:3]
        out += raw_payload
        out += struct.pack("<I", (rle_run << 3) | (1 << 1) | 0)[:3]
        out += bytes((rle_byte,))
        out += block3
        if checksum:
            out += struct.pack("<I", xxh64(content) & 0xFFFFFFFF)
    return bytes(out)


DICT_MAGIC = 0xEC30A437


# Parsed dictionaries by blob, kept per process (a frame copies the
# repeat offsets and never mutates the tables); only successful loads
# are kept, so a bad blob raises again naming the current doc.
_DICTIONARIES: dict[bytes, dict] = {}


def _load_dictionary(doc_id: int, blob: bytes) -> dict:
    """``_parse_dictionary(doc_id, blob)``, parsed once per process."""
    got = _DICTIONARIES.get(blob)
    if got is None:
        if len(_DICTIONARIES) >= 256:
            _DICTIONARIES.clear()
        got = _DICTIONARIES[blob] = _parse_dictionary(doc_id, blob)
    return got


def _parse_dictionary(doc_id: int, blob: bytes) -> dict:
    """Parse a zstd dictionary (RFC 8878 §5).  With the dictionary
    magic: dict ID, entropy tables (Huffman weights in the literals-
    header serialization, then OF / ML / LL FSE table descriptions),
    three 4-byte recent offsets, and the content.  Without the magic
    the whole blob is RAW CONTENT — window bytes only, no entropy
    state, default repeat offsets."""
    if len(blob) >= 8 and struct.unpack_from("<I", blob)[0] == DICT_MAGIC:
        (did,) = struct.unpack_from("<I", blob, 4)
        huff, pos = _read_huffman_table(
            doc_id, blob, 8, len(blob), "dictionary weight header overruns"
        )
        of_d, of_log, pos = _read_fse_description(doc_id, blob, pos, 8)
        ml_d, ml_log, pos = _read_fse_description(doc_id, blob, pos, 9)
        ll_d, ll_log, pos = _read_fse_description(doc_id, blob, pos, 9)
        tables = [
            (_fse_decode_table(ll_d, ll_log), ll_log),
            (_fse_decode_table(of_d, of_log), of_log),
            (_fse_decode_table(ml_d, ml_log), ml_log),
        ]
        if pos + 12 > len(blob):
            raise ValueError(
                f"doc {doc_id}: dictionary truncated before offsets"
            )
        reps = list(struct.unpack_from("<III", blob, pos))
        pos += 12
        content = blob[pos:]
        for r in reps:
            if not 1 <= r <= len(content):
                raise ValueError(
                    f"doc {doc_id}: dictionary repeat offset {r} "
                    "outside its content"
                )
        return {
            "id": did, "huff": huff, "tables": tables,
            "reps": reps, "content": content,
        }
    return {
        "id": None, "huff": None, "tables": None,
        "reps": [1, 4, 8], "content": blob,
    }


def parse_zstd(
    doc_id: int, raw: bytes, dicts: dict[int, bytes] | None = None,
    used_dids: list[int] | None = None,
) -> tuple[int, int, int, int, int, int]:
    """Walk concatenated zstd frames to (n_frames, n_skippable,
    n_blocks, content_bytes, content_sum, n_checksums): magic
    dispatch (data vs skippable), frame-header descriptor decode
    (FCS size flags, single-segment, window descriptor, dictionary
    IDs resolved through ``dicts`` — a referenced dictionary seeds
    the frame's entropy state, repeat offsets, and window prefix,
    and ``used_dids`` collects the referenced IDs), the block loop
    (raw / RLE / compressed), frame-content-size cross-check, and
    REAL XXH64 verification of every checksummed frame's decoded
    content."""
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
        if magic != ZSTD_MAGIC:
            raise ValueError(
                f"doc {doc_id}: bad zstd magic {magic:#x} at {pos - 4}"
            )
        fhd = raw[pos]
        pos += 1
        fcs_flag = fhd >> 6
        single_segment = bool(fhd & 0x20)
        if fhd & 0x18:
            raise ValueError(
                f"doc {doc_id}: reserved/unused FHD bits set"
            )
        checksum = bool(fhd & 0x04)
        did_size = (0, 1, 2, 4)[fhd & 0x03]
        if not single_segment:
            wd = raw[pos]
            pos += 1
            if (wd >> 3) + 10 > 31:
                raise ValueError(f"doc {doc_id}: window too large")
        dictionary = None
        if did_size:
            if pos + did_size > len(raw):
                raise ValueError(
                    f"doc {doc_id}: truncated dictionary ID"
                )
            did = int.from_bytes(raw[pos : pos + did_size], "little")
            pos += did_size
            if dicts is None or did not in dicts:
                raise ValueError(
                    f"doc {doc_id}: frame references dictionary "
                    f"{did} which was not provided"
                )
            dictionary = _load_dictionary(doc_id, dicts[did])
            if dictionary["id"] is not None and dictionary["id"] != did:
                raise ValueError(
                    f"doc {doc_id}: dictionary {did} carries "
                    f"mismatched ID {dictionary['id']}"
                )
            if used_dids is not None:
                used_dids.append(did)
        fcs = None
        fcs_size = (
            (1 if single_segment else 0), 2, 4, 8
        )[fcs_flag]
        if fcs_size:
            fcs = int.from_bytes(
                raw[pos : pos + fcs_size], "little"
            )
            if fcs_size == 2:
                fcs += 256
            pos += fcs_size
        content = bytearray()
        # per-FRAME decoder state (RFC 8878): the previous Huffman
        # table (treeless literals), the previous sequence tables
        # (repeat mode), and the repeat-offset history all persist
        # ACROSS blocks within a frame; a referenced dictionary
        # seeds all three plus the window prefix (its content is
        # match-reachable but NOT part of the frame's output)
        if dictionary is not None:
            fstate = {
                "huff": dictionary["huff"],
                "tables": dictionary["tables"],
                "reps": list(dictionary["reps"]),
            }
            window_prefix = dictionary["content"]
        else:
            fstate = {"huff": None, "tables": None, "reps": [1, 4, 8]}
            window_prefix = b""
        while True:
            if pos + 3 > len(raw):
                raise ValueError(f"doc {doc_id}: truncated block header")
            bh = int.from_bytes(raw[pos : pos + 3], "little")
            pos += 3
            last, btype, bsize = bh & 1, (bh >> 1) & 3, bh >> 3
            if btype == 0:  # raw
                if pos + bsize > len(raw):
                    raise ValueError(
                        f"doc {doc_id}: raw block overruns the file"
                    )
                content += raw[pos : pos + bsize]
                pos += bsize
            elif btype == 1:  # RLE
                if pos >= len(raw):
                    raise ValueError(
                        f"doc {doc_id}: RLE block overruns the file"
                    )
                content += bytes((raw[pos],)) * bsize
                pos += 1
            elif btype == 2:
                new, pos = _decode_compressed_block(
                    doc_id, raw, pos, bsize,
                    window_prefix + bytes(content), fstate,
                )
                content += new
            else:
                raise ValueError(
                    f"doc {doc_id}: reserved block type at {pos - 3}"
                )
            n_blocks += 1
            if last:
                break
        if fcs is not None and fcs != len(content):
            raise ValueError(
                f"doc {doc_id}: frame content size {fcs} != decoded "
                f"{len(content)}"
            )
        if checksum:
            (want,) = struct.unpack_from("<I", raw, pos)
            pos += 4
            got = xxh64(bytes(content)) & 0xFFFFFFFF
            if got != want:
                raise ValueError(
                    f"doc {doc_id}: XXH64 content checksum mismatch"
                )
            n_ck += 1
        n_frames += 1
        c_bytes += len(content)
        c_sum += sum(content)
    return n_frames, n_skip, n_blocks, c_bytes, c_sum, n_ck


def _read_fse_description(
    doc_id: int, raw: bytes, pos: int, max_acclog: int
) -> tuple[list[int], int, int]:
    """Decode an FSE table description (RFC 8878 4.1.1): 4-bit
    accuracy_log (plus the base of 5), then spec-coded probabilities
    over the remaining slot budget.  Each value is read as up to
    nb_bits little-endian bits where ``threshold = 1 << (nb_bits-1)``
    shrinks as the budget drains: peek nb_bits; if the LOW nb_bits-1
    bits fall below ``max = 2*threshold - 1 - remaining`` (the count
    of small values that fit in one fewer bit), consume nb_bits-1 and
    use the low bits, else consume nb_bits and subtract ``max`` from
    values at or above the threshold.  value - 1 is the probability,
    -1 taking one slot, and a ZERO probability is followed by 2-bit
    repeat flags counting further zero-probability symbols (value 3
    chains).  Ends byte-aligned with the budget spent exactly."""
    br = LsbReader(
        raw, f"doc {doc_id}: FSE description overruns the block",
        byte_offset=pos,
    )
    acclog = 5 + br.read(4)
    if acclog > max_acclog:
        raise ValueError(
            f"doc {doc_id}: FSE accuracy_log {acclog} above the "
            f"field's {max_acclog} maximum"
        )
    remaining = (1 << acclog) + 1
    threshold = 1 << acclog
    nb_bits = acclog + 1
    dist: list[int] = []
    while remaining > 1:
        small = 2 * threshold - 1 - remaining
        v = br.read(nb_bits - 1)
        if v < small:
            pass  # low bits alone identify the value
        else:
            v |= br.read(1) << (nb_bits - 1)
            if v >= threshold:
                v -= small
        proba = v - 1
        dist.append(proba)
        remaining -= -proba if proba < 0 else proba
        if proba == 0:
            # zero probability: repeat flags for more zero symbols
            while True:
                rep = br.read(2)
                dist.extend([0] * rep)
                if rep != 3:
                    break
        while remaining > 1 and remaining < threshold:
            threshold >>= 1
            nb_bits -= 1
        if len(dist) > 256:
            raise ValueError(
                f"doc {doc_id}: runaway FSE description"
            )
    return dist, acclog, br.align()


def _write_fse_description(dist: list[int], acclog: int) -> bytes:
    """Encoder twin of ``_read_fse_description``."""
    w = LsbWriter()
    w.put(acclog - 5, 4)
    remaining = (1 << acclog) + 1
    threshold = 1 << acclog
    nb_bits = acclog + 1
    i = 0
    while remaining > 1:
        proba = dist[i]
        i += 1
        small = 2 * threshold - 1 - remaining
        v = proba + 1
        if v < small:
            w.put(v, nb_bits - 1)
        elif v < threshold:
            w.put(v, nb_bits)
        else:
            w.put(v + small, nb_bits)
        remaining -= -proba if proba < 0 else proba
        if proba == 0:
            zeros = 0
            while i < len(dist) and dist[i] == 0 and zeros < 3:
                zeros += 1
                i += 1
            w.put(zeros, 2)
            while zeros == 3:
                zeros = 0
                while i < len(dist) and dist[i] == 0 and zeros < 3:
                    zeros += 1
                    i += 1
                w.put(zeros, 2)
        while remaining > 1 and remaining < threshold:
            threshold >>= 1
            nb_bits -= 1
    if i != len(dist):
        raise ValueError("FSE description distribution overlong")
    return w.to_bytes()


def _fse_decode_table(
    dist: tuple, acclog: int
) -> list[tuple[int, int, int]]:
    """Build an FSE decoding table from a normalized distribution
    (RFC 8878 4.1.1): -1 entries take one slot from the table's top,
    positive frequencies spread with the standard step, then each
    state gets (symbol, nb_bits, baseline) from the per-symbol
    occurrence counter."""
    size = 1 << acclog
    table = [-1] * size
    high = size - 1
    for s, f in enumerate(dist):
        if f == -1:
            table[high] = s
            high -= 1
    step = (size >> 1) + (size >> 3) + 3
    pos = 0
    for s, f in enumerate(dist):
        if f > 0:
            for _ in range(f):
                table[pos] = s
                pos = (pos + step) & (size - 1)
                while pos > high:
                    pos = (pos + step) & (size - 1)
    if pos != 0:
        raise ValueError("FSE spread did not close its cycle")
    counts = [f if f > 0 else 1 for f in dist]
    nxt = [f if f > 0 else 1 for f in dist]
    out: list[tuple[int, int, int]] = [None] * size  # type: ignore
    for state in range(size):
        s = table[state]
        x = nxt[s]
        nxt[s] += 1
        nb = acclog - (x.bit_length() - 1)
        out[state] = (s, nb, (x << nb) - size)
    del counts
    return out


def _fse_pick_states(
    dtable: list, codes: list[int], doc_id: int,
    last_needs_bits: bool = False,
) -> tuple[list[int], list[tuple[int, int]]]:
    """Encoder side: choose the decoder's state chain for ``codes``
    and the update-bit fields.  FSE's baseline windows per symbol
    tile the whole state space, so walking backward from any final
    symbol-matching state the predecessor is unique.  With
    ``last_needs_bits`` the final state must carry nb_bits > 0 (the
    two-state interleaved decode terminates on a state whose update
    over-runs the stream, which a zero-bit update never does)."""
    by_symbol: dict[int, list[int]] = {}
    for st, (s, _nb, _b) in enumerate(dtable):
        by_symbol.setdefault(s, []).append(st)
    states = [0] * len(codes)
    last_candidates = by_symbol[codes[-1]]
    if last_needs_bits:
        last_candidates = [
            st for st in last_candidates if dtable[st][1] > 0
        ]
        if not last_candidates:
            raise ValueError(
                f"doc {doc_id}: no terminating FSE state for symbol "
                f"{codes[-1]}"
            )
    states[-1] = last_candidates[0]
    for k in range(len(codes) - 2, -1, -1):
        target = states[k + 1]
        for st in by_symbol[codes[k]]:
            _s, nb, base = dtable[st]
            if base <= target < base + (1 << nb):
                states[k] = st
                break
        else:
            raise ValueError(f"doc {doc_id}: FSE windows failed to tile")
    updates = []
    for k in range(len(codes) - 1):
        _s, nb, base = dtable[states[k]]
        updates.append((states[k + 1] - base, nb))
    return states, updates


def _fse_decode_interleaved(
    doc_id: int, buf: bytes, dtable: list, acclog: int,
    max_out: int = 255,
) -> list[int]:
    """Two-state interleaved FSE decode (RFC 8878 4.1.1, the layout
    Huffman weight streams use): the backward bitstream opens with
    both states, then symbols alternate state1/state2, each emission
    followed by that state's nb_bits update — until an update would
    over-run the stream, at which point the OTHER state's symbol is
    emitted and decoding stops."""
    br = BackReader(doc_id, buf)
    s1 = br.read(acclog)
    s2 = br.read(acclog)
    out: list[int] = []
    while True:
        sym, nb, base = dtable[s1]
        out.append(sym)
        if nb > br.bits_left:
            out.append(dtable[s2][0])
            break
        s1 = base + br.read(nb)
        sym, nb, base = dtable[s2]
        out.append(sym)
        if nb > br.bits_left:
            out.append(dtable[s1][0])
            break
        s2 = base + br.read(nb)
        if len(out) > max_out:
            raise ValueError(
                f"doc {doc_id}: interleaved FSE stream produced more "
                f"than {max_out} symbols without terminating"
            )
    return out


def _fse_encode_interleaved(
    syms: list[int], dtable: list, acclog: int
) -> bytes:
    """Encoder twin of ``_fse_decode_interleaved``: split symbols
    into the two alternating chains, pick window-compatible state
    walks (the terminating chain's final state must carry bits), and
    pack init states + alternating updates in decode order."""
    if len(syms) < 2:
        raise ValueError("interleaved FSE needs at least two symbols")
    chain1, chain2 = syms[0::2], syms[1::2]
    even = len(syms) % 2 == 0
    # termination: for an even count state1's last update over-runs;
    # for an odd count state2's does
    s1, u1 = _fse_pick_states(dtable, chain1, -1, last_needs_bits=even)
    s2, u2 = _fse_pick_states(
        dtable, chain2, -1, last_needs_bits=not even
    )
    w = MsbWriter()
    w.u(s1[0], acclog)
    w.u(s2[0], acclog)
    for j in range(max(len(u1), len(u2))):
        if j < len(u1):
            w.u(*u1[j])
        if j < len(u2):
            w.u(*u2[j])
    return backward_bytes(w)


# FSE distribution the fixture's compressed weight headers use
# (symbols are the weight VALUES 1 and 2; normalizes to 1 << 5)
_WEIGHTS_FSE_DIST = (0, 28, 4)
_WEIGHTS_FSE_ACCLOG = 5


# Predefined FSE distributions (RFC 8878 3.1.1.3.2.2) — spec-literal
# tables gated by the structural normalization check (each must cover
# exactly 1 << accuracy_log slots counting -1 entries as one), the
# same clean-room standard as the repo's other entropy tables.
ZSTD_LL_DIST = (
    4, 3, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 1, 1, 1, 2, 2, 2, 2, 2, 2,
    2, 2, 2, 3, 2, 1, 1, 1, 1, 1, -1, -1, -1, -1,
)
ZSTD_LL_ACCLOG = 6
ZSTD_ML_DIST = (
    1, 4, 3, 2, 2, 2, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
    1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
    1, 1, -1, -1, -1, -1, -1, -1, -1,
)
ZSTD_ML_ACCLOG = 6
ZSTD_OF_DIST = (
    1, 1, 1, 1, 1, 1, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
    1, 1, -1, -1, -1, -1, -1,
)
ZSTD_OF_ACCLOG = 5
# ... and their decode tables, built once (tuples: shared read-only by
# the decoder's predefined mode and the encoders)
ZSTD_LL_TABLE = tuple(_fse_decode_table(ZSTD_LL_DIST, ZSTD_LL_ACCLOG))
ZSTD_ML_TABLE = tuple(_fse_decode_table(ZSTD_ML_DIST, ZSTD_ML_ACCLOG))
ZSTD_OF_TABLE = tuple(_fse_decode_table(ZSTD_OF_DIST, ZSTD_OF_ACCLOG))

# literals-length and match-length code tables (RFC 3.1.1.3.2.1) —
# baseline/extra-bit progressions
_LL_BASE = (
    0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15,
    16, 18, 20, 22, 24, 28, 32, 40, 48, 64, 128, 256, 512, 1024,
    2048, 4096, 8192, 16384, 32768, 65536,
)
_LL_BITS = (
    0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
    1, 1, 1, 1, 2, 2, 3, 3, 4, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16,
)
_ML_BASE = tuple(
    list(range(3, 35))
    + [35, 37, 39, 41, 43, 47, 51, 59, 67, 83, 99, 131, 259, 515,
       1027, 2051, 4099, 8195, 16387, 32771, 65539]
)
_ML_BITS = tuple(
    [0] * 32
    + [1, 1, 1, 1, 2, 2, 3, 3, 4, 4, 5, 7, 8, 9, 10, 11, 12, 13, 14,
       15, 16]
)


def _huffman_weights_to_codes(
    doc_id: int, weights: list[int]
) -> tuple[dict, list[int]]:
    """RFC 4.2.1: explicit weights plus the implied last symbol (it
    completes the weight sum to a power of two — enforced), then the
    canonical code: a symbol of weight w > 0 takes max_bits + 1 - w
    bits, codes assigned in ascending weight, then ascending symbol
    order.  Returns ({(length, code): symbol}, num_bits per
    symbol)."""
    total = sum((1 << (w - 1)) for w in weights if w > 0)
    if total == 0:
        raise ValueError(f"doc {doc_id}: empty Huffman weight set")
    nextpow = 1 << (total - 1).bit_length()
    if nextpow == total:
        nextpow <<= 1
    rest = nextpow - total
    if rest & (rest - 1):
        raise ValueError(
            f"doc {doc_id}: Huffman weights cannot complete to a "
            "power of two"
        )
    weights = weights + [rest.bit_length()]
    max_bits = (nextpow).bit_length() - 1
    nbits = [
        (max_bits + 1 - w) if w > 0 else 0 for w in weights
    ]
    order = sorted((w, s) for s, w in enumerate(weights) if w > 0)
    return canonical_codes((s, nbits[s]) for _w, s in order), nbits


def _read_huffman_table(
    doc_id: int, raw: bytes, pos: int, end: int, overrun: str
) -> tuple[tuple[list, list[int], int], int]:
    """The Huffman tree description at ``pos`` (RFC 4.2.1.1): a header
    byte below 128 is the size of FSE-compressed weights (RFC 4.2.1.2:
    an FSE table description, accuracy_log <= 6, then a two-state
    interleaved backward bitstream of weights), which must end by
    ``end`` (else ``overrun``); 128 and above, th - 127 direct 4-bit
    weights.  Returns ((peek table of symbols, num_bits per symbol,
    peek bits), position after)."""
    th = raw[pos]
    pos += 1
    if th < 128:
        wend = pos + th
        if wend > end:
            raise ValueError(f"doc {doc_id}: {overrun}")
        dist, wlog, pos = _read_fse_description(doc_id, raw, pos, 6)
        wtab = _fse_decode_table(dist, wlog)
        weights = _fse_decode_interleaved(
            doc_id, raw[pos:wend], wtab, wlog
        )
        pos = wend
    else:
        n_weights = th - 127
        weights = []
        for j in range(n_weights):
            byte = raw[pos + j // 2]
            weights.append((byte >> 4) if j % 2 == 0 else (byte & 15))
        pos += (n_weights + 1) // 2
    codes, nbits = _huffman_weights_to_codes(doc_id, weights)
    slots, k = peek_lut(codes)
    return (slots, nbits, k), pos


def _huffman_decode_stream(
    doc_id: int, buf: bytes, n_symbols: int, slots: list, nbits: list,
    k: int,
) -> bytes:
    br = BackReader(doc_id, buf)
    out = bytearray()
    for _ in range(n_symbols):
        if br.bits_left <= 0:
            raise ValueError(f"doc {doc_id}: Huffman stream underflow")
        s = slots[br.peek_padded(k)]
        nb = nbits[s]
        if nb == 0 or nb > br.bits_left:
            raise ValueError(f"doc {doc_id}: Huffman stream underflow")
        br.read(nb)
        out.append(s)
    if br.bits_left != 0:
        raise ValueError(
            f"doc {doc_id}: Huffman stream carries {br.bits_left} "
            "unconsumed bits"
        )
    return bytes(out)


def _decode_literals(
    doc_id: int, raw: bytes, pos: int, fstate: dict
) -> tuple[bytes, int]:
    """Literals section (RFC 3.1.1.3.1): raw / RLE / Huffman-
    compressed with a DIRECT-weights or FSE-COMPRESSED-weights table
    (recorded in the frame state), or TREELESS — reusing the frame's
    previous Huffman table — in 1-stream or 4-stream layouts."""
    b0 = raw[pos]
    ltype = b0 & 3
    fmt = (b0 >> 2) & 3
    if ltype in (0, 1):  # raw / RLE
        if fmt in (0, 2):
            size = b0 >> 3
            pos += 1
        elif fmt == 1:
            size = (b0 >> 4) | (raw[pos + 1] << 4)
            pos += 2
        else:
            size = (b0 >> 4) | (raw[pos + 1] << 4) | (raw[pos + 2] << 12)
            pos += 3
        if ltype == 0:
            lit = raw[pos : pos + size]
            pos += size
        else:
            lit = bytes((raw[pos],)) * size
            pos += 1
        return lit, pos
    # compressed (2) or treeless (3): sizes by format
    if fmt == 0:  # 1 stream, 10-bit sizes, 3 header bytes
        h = int.from_bytes(raw[pos : pos + 3], "little") >> 4
        regen = h & 0x3FF
        csize = h >> 10
        pos += 3
        streams = 1
    elif fmt == 1:  # 4 streams, 10-bit sizes
        h = int.from_bytes(raw[pos : pos + 3], "little") >> 4
        regen = h & 0x3FF
        csize = h >> 10
        pos += 3
        streams = 4
    elif fmt == 2:  # 4 streams, 14-bit sizes
        h = int.from_bytes(raw[pos : pos + 4], "little") >> 4
        regen = h & 0x3FFF
        csize = h >> 14
        pos += 4
        streams = 4
    else:  # 4 streams, 18-bit sizes
        h = int.from_bytes(raw[pos : pos + 5], "little") >> 4
        regen = h & 0x3FFFF
        csize = h >> 18
        pos += 5
        streams = 4
    end = pos + csize
    if ltype == 3:
        if fstate["huff"] is None:
            raise ValueError(
                f"doc {doc_id}: treeless literals with no prior "
                "Huffman table in the frame"
            )
    else:
        fstate["huff"], pos = _read_huffman_table(
            doc_id, raw, pos, end,
            "compressed weight header overruns the literals section",
        )
    slots, nbits, k = fstate["huff"]
    if streams == 1:
        lit = _huffman_decode_stream(
            doc_id, raw[pos:end], regen, slots, nbits, k
        )
        return lit, end
    # 4 streams: 6-byte jump table then the streams
    s1, s2, s3 = struct.unpack_from("<HHH", raw, pos)
    pos += 6
    sizes = [s1, s2, s3, end - (pos + s1 + s2 + s3)]
    if sizes[3] <= 0:
        raise ValueError(f"doc {doc_id}: 4-stream jump table overrun")
    per = (regen + 3) // 4
    counts = [per, per, per, regen - 3 * per]
    if counts[3] < 0:
        raise ValueError(
            f"doc {doc_id}: 4-stream regenerated size too small"
        )
    lit = bytearray()
    for sz, cnt in zip(sizes, counts):
        lit += _huffman_decode_stream(
            doc_id, raw[pos : pos + sz], cnt, slots, nbits, k
        )
        pos += sz
    return bytes(lit), end


def _decode_compressed_block(
    doc_id: int, raw: bytes, pos: int, bsize: int, history: bytes,
    fstate: dict,
) -> tuple[bytes, int]:
    """One compressed block (RFC 3.1.1.3): the literals section, the
    sequences section (predefined or RLE symbol tables; FSE-described
    and repeat tables raise declared boundaries), the interleaved
    backward bitstream of states and extra bits, and sequence
    execution against the window (repeat-offset history with the
    literals_length-0 variant, overlap-safe match copies)."""
    block_end = pos + bsize
    lit, pos = _decode_literals(doc_id, raw, pos, fstate)
    nb0 = raw[pos]
    if nb0 < 128:
        n_seq = nb0
        pos += 1
    elif nb0 < 255:
        n_seq = ((nb0 - 128) << 8) | raw[pos + 1]
        pos += 2
    else:
        n_seq = raw[pos + 1] | (raw[pos + 2] << 8) | 0x7F00
        pos += 3
    if n_seq == 0:
        if pos != block_end:
            raise ValueError(
                f"doc {doc_id}: sequence-free block carries trailing "
                "bytes"
            )
        return bytes(lit), pos
    modes = raw[pos]
    pos += 1
    if modes & 3:
        raise ValueError(f"doc {doc_id}: reserved sequence-mode bits")

    def seq_table(
        mode: int, predefined: tuple, acclog: int, max_code: int,
        max_acclog: int,
    ):
        nonlocal pos
        if mode == 0:
            return predefined, acclog
        if mode == 1:  # RLE: a degenerate one-state table
            sym = raw[pos]
            pos += 1
            if sym > max_code:
                raise ValueError(
                    f"doc {doc_id}: RLE sequence symbol {sym} out of "
                    "range"
                )
            return [(sym, 0, 0)], 0
        if mode == 2:  # FSE-described: decode the count header
            d, log, pos = _read_fse_description(
                doc_id, raw, pos, max_acclog
            )
            if len(d) - 1 > max_code:
                raise ValueError(
                    f"doc {doc_id}: described table reaches symbol "
                    f"{len(d) - 1} past the field maximum {max_code}"
                )
            return _fse_decode_table(d, log), log
        return None  # mode 3: repeat the frame's previous table

    fields = []
    for shift, predefined, acclog, max_code, max_al in (
        (6, ZSTD_LL_TABLE, ZSTD_LL_ACCLOG, 35, 9),
        (4, ZSTD_OF_TABLE, ZSTD_OF_ACCLOG, 31, 8),
        (2, ZSTD_ML_TABLE, ZSTD_ML_ACCLOG, 52, 9),
    ):
        got = seq_table(
            (modes >> shift) & 3, predefined, acclog, max_code, max_al
        )
        fields.append(got)
    if any(f is None for f in fields):
        if fstate["tables"] is None:
            raise ValueError(
                f"doc {doc_id}: repeat sequence tables with no prior "
                "compressed block in the frame"
            )
        fields = [
            f if f is not None else prev
            for f, prev in zip(fields, fstate["tables"])
        ]
    fstate["tables"] = fields
    (ll_tab, ll_log), (of_tab, of_log), (ml_tab, ml_log) = fields
    br = BackReader(doc_id, raw[pos:block_end])
    ll_state = br.read(ll_log)
    of_state = br.read(of_log)
    ml_state = br.read(ml_log)
    out = bytearray()
    lit_pos = 0
    reps = fstate["reps"]
    for k in range(n_seq):
        ll_code = ll_tab[ll_state][0]
        of_code = of_tab[of_state][0]
        ml_code = ml_tab[ml_state][0]
        if ll_code > 35 or ml_code > 52 or of_code > 31:
            raise ValueError(f"doc {doc_id}: sequence code out of range")
        of_value = (1 << of_code) + br.read(of_code)
        ml = _ML_BASE[ml_code] + br.read(_ML_BITS[ml_code])
        ll = _LL_BASE[ll_code] + br.read(_LL_BITS[ll_code])
        if k < n_seq - 1:
            s, nb, base = ll_tab[ll_state]
            ll_state = base + br.read(nb)
            s, nb, base = ml_tab[ml_state]
            ml_state = base + br.read(nb)
            s, nb, base = of_tab[of_state]
            of_state = base + br.read(nb)
        # repeat-offset resolution (RFC 3.1.1.5)
        if of_value > 3:
            offset = of_value - 3
            reps = [offset, reps[0], reps[1]]
        else:
            idx = of_value - 1
            if ll == 0:
                idx += 1
            if idx == 0:
                offset = reps[0]
            elif idx < 3:
                offset = reps[idx]
                reps = [
                    offset, reps[0], reps[2] if idx == 1 else reps[1]
                ]
            else:  # ll == 0 and of_value == 3: Repeat1 - 1
                offset = reps[0] - 1
                if offset == 0:
                    raise ValueError(
                        f"doc {doc_id}: repeat-offset underflow"
                    )
                reps = [offset, reps[0], reps[1]]
        if lit_pos + ll > len(lit):
            raise ValueError(
                f"doc {doc_id}: sequence literals overrun the section"
            )
        out += lit[lit_pos : lit_pos + ll]
        lit_pos += ll
        win = len(history) + len(out)
        if offset > win:
            raise ValueError(
                f"doc {doc_id}: match offset {offset} reaches before "
                "the window"
            )
        for _ in range(ml):
            at = len(history) + len(out) - offset
            out.append(
                history[at] if at < len(history)
                else out[at - len(history)]
            )
    if br.bits_left:
        raise ValueError(
            f"doc {doc_id}: sequence bitstream carries "
            f"{br.bits_left} unconsumed bits"
        )
    fstate["reps"] = reps
    out += lit[lit_pos:]
    return bytes(out), block_end


def zstd_dict_ids(doc_id: int) -> tuple[int, int]:
    """(formatted_dict_id, raw_dict_id) for the dict-frame fixture."""
    return 300 + doc_id % 50, 40 + doc_id % 30


def zstd_dict_content(did: int) -> bytes:
    """A dictionary's content bytes by closed form."""
    return bytes((did + 3 * j) % 256 for j in range(40 + did % 24))


@functools.cache
def make_zstd_dictionary(did: int) -> bytes:
    """Serialize dictionary ``did``: FORMATTED (RFC 8878 §5 — magic,
    ID, Huffman weights + OF/ML/LL table descriptions carrying the
    predefined distributions, recent offsets [dlen, 4, 8], content)
    for ids >= 300, RAW CONTENT otherwise."""
    content = zstd_dict_content(did)
    if did < 300:
        return content
    hdr, _codes, _nbits = _zstd_huffman_enc()
    return (
        struct.pack("<II", DICT_MAGIC, did)
        + hdr
        + _write_fse_description(list(ZSTD_OF_DIST), ZSTD_OF_ACCLOG)
        + _write_fse_description(list(ZSTD_ML_DIST), ZSTD_ML_ACCLOG)
        + _write_fse_description(list(ZSTD_LL_DIST), ZSTD_LL_ACCLOG)
        + struct.pack("<III", len(content), 4, 8)
        + content
    )


def zstd_dicts(doc_id: int) -> dict[int, bytes]:
    """{dict_id: serialized dictionary} for the two dictionaries doc
    ``doc_id``'s frames reference."""
    return {did: make_zstd_dictionary(did) for did in zstd_dict_ids(doc_id)}


def zstd_dict_fields(doc_id: int) -> tuple[int, int, int, int, int, int]:
    """(n_lit, ll0, m1, m2, n_lit2, m3) closed forms of the two
    dict-keyed frames."""
    return (
        10 + doc_id % 6, 3 + doc_id % 3, 4 + doc_id % 4,
        3 + doc_id % 3, 8 + doc_id % 5, 3 + doc_id % 5,
    )


def zstd_dict_frame0_content(doc_id: int) -> bytes:
    """Frame 0's decoded output: treeless literals spliced with a
    far match into the formatted dictionary's content and a
    dict-seeded repeat-offset match."""
    d1, _d2 = zstd_dict_ids(doc_id)
    n_lit, ll0, m1, m2, _n2, _m3 = zstd_dict_fields(doc_id)
    lits = bytes((doc_id + j) % 8 for j in range(n_lit))
    dc = zstd_dict_content(d1)
    ll1 = 2
    t = ll0 + m1 + ll1
    return (
        lits[:ll0] + dc[2 : 2 + m1]
        + lits[ll0 : ll0 + ll1] + dc[t : t + m2]
        + lits[ll0 + ll1 :]
    )


def zstd_dict_frame1_content(doc_id: int) -> bytes:
    """Frame 1's decoded output: raw literals spliced with a match
    into the raw-content dictionary."""
    _d1, d2 = zstd_dict_ids(doc_id)
    _n, _l, _m1, _m2, n_lit2, m3 = zstd_dict_fields(doc_id)
    lits = bytes((2 * doc_id + j) % 256 for j in range(n_lit2))
    dc = zstd_dict_content(d2)
    return lits[:4] + dc[1 : 1 + m3] + lits[4:]


def make_zstd_dict_bytes(doc_id: int) -> bytes:
    """Two dictionary-keyed frames per doc: frame 0 references a
    FORMATTED dictionary (2-byte ID field, 4-byte on every fifth
    doc) and decodes a treeless-literals + repeat-mode block whose
    matches reach into the dictionary window and whose second
    sequence resolves a DICT-SEEDED repeat offset; frame 1
    references a RAW-CONTENT dictionary (1-byte ID field) and
    decodes a predefined-tables block matching into that window.
    The dictionaries they reference are ``zstd_dicts(doc_id)``."""
    d1, d2 = zstd_dict_ids(doc_id)
    n_lit, ll0, m1, m2, n_lit2, m3 = zstd_dict_fields(doc_id)
    dlen1 = len(zstd_dict_content(d1))
    dlen2 = len(zstd_dict_content(d2))
    out = bytearray()

    # ---- frame 0: formatted dict, treeless + repeat-mode block ----
    lits = bytes((doc_id + j) % 8 for j in range(n_lit))
    _hdr, codes, nbits = _zstd_huffman_enc()
    wlit = MsbWriter()
    for s in lits:
        wlit.u(codes[s], nbits[s])
    body = backward_bytes(wlit)
    h = (3 | (0 << 2) | (n_lit << 4) | (len(body) << 14)) & 0xFFFFFF
    lit_sec = struct.pack("<I", h)[:3] + body
    ll1 = 2
    ll_codes = [ll0, ll1]
    ml_codes = [m1 - 3, m2 - 3]
    of_vals = [(ll0 + dlen1 - 2) + 3, 2]  # far match, then Repeat2
    of_codes = [v.bit_length() - 1 for v in of_vals]
    ll_tab = ZSTD_LL_TABLE
    ml_tab = ZSTD_ML_TABLE
    of_tab = ZSTD_OF_TABLE
    ll_states, ll_upd = _fse_pick_states(ll_tab, ll_codes, doc_id)
    of_states, of_upd = _fse_pick_states(of_tab, of_codes, doc_id)
    ml_states, ml_upd = _fse_pick_states(ml_tab, ml_codes, doc_id)
    w = MsbWriter()
    w.u(ll_states[0], ZSTD_LL_ACCLOG)
    w.u(of_states[0], ZSTD_OF_ACCLOG)
    w.u(ml_states[0], ZSTD_ML_ACCLOG)
    for s in range(2):
        w.u(of_vals[s] - (1 << of_codes[s]), of_codes[s])
        if s < 1:
            w.u(*ll_upd[s])
            w.u(*ml_upd[s])
            w.u(*of_upd[s])
    seq = bytes((2, 0xFC)) + backward_bytes(w)  # modes: repeat x3
    block0 = lit_sec_block(lit_sec, seq, last=1)
    content0 = zstd_dict_frame0_content(doc_id)
    did_flag = 3 if doc_id % 5 == 0 else 2
    out += struct.pack("<I", ZSTD_MAGIC)
    out += bytes((0x80 | 0x04 | did_flag, 0x00))  # fhd, window desc
    out += d1.to_bytes(4 if did_flag == 3 else 2, "little")
    out += struct.pack("<I", len(content0))
    out += block0
    out += struct.pack("<I", xxh64(content0) & 0xFFFFFFFF)

    # ---- frame 1: raw dict, raw literals + predefined tables ----
    lits2 = bytes((2 * doc_id + j) % 256 for j in range(n_lit2))
    h2 = 0 | (0 << 2) | (n_lit2 << 3)  # raw literals, 1-byte header
    lit_sec2 = bytes((h2 & 0xFF,)) + lits2
    of_val2 = (dlen2 + 3) + 3
    of_code2 = of_val2.bit_length() - 1
    ll_states2, _ = _fse_pick_states(ll_tab, [4], doc_id)
    of_states2, _ = _fse_pick_states(of_tab, [of_code2], doc_id)
    ml_states2, _ = _fse_pick_states(ml_tab, [m3 - 3], doc_id)
    w2 = MsbWriter()
    w2.u(ll_states2[0], ZSTD_LL_ACCLOG)
    w2.u(of_states2[0], ZSTD_OF_ACCLOG)
    w2.u(ml_states2[0], ZSTD_ML_ACCLOG)
    w2.u(of_val2 - (1 << of_code2), of_code2)
    seq2 = bytes((1, 0x00)) + backward_bytes(w2)  # modes: predefined x3
    block1 = lit_sec_block(lit_sec2, seq2, last=1)
    content1 = zstd_dict_frame1_content(doc_id)
    out += struct.pack("<I", ZSTD_MAGIC)
    out += bytes((0x80 | 0x04 | 0x01, 0x00))
    out += d2.to_bytes(1, "little")
    out += struct.pack("<I", len(content1))
    out += block1
    out += struct.pack("<I", xxh64(content1) & 0xFFFFFFFF)

    return bytes(out)


ZSTD_SCHEMA = (
    "doc_id long, n_frames long, n_skippable long, n_blocks long, "
    "content_bytes long, content_sum long, n_checksums long"
)

ZSTD_DICT_SCHEMA = (
    "doc_id long, n_frames long, n_blocks long, content_bytes long, "
    "content_sum long, dict_ids_sum long, n_checksums long"
)


@decoder(ZSTD_DICT_SCHEMA)
def decode_zstd_dict():
    """Two dictionary-keyed frames per row, decoded against
    ``zstd_dicts(doc_id)``; ``dict_ids_sum`` sums the dictionary ids
    the frames used."""

    def row(doc_id: int, raw: bytes):
        used: list[int] = []
        nf, _ns, nb, cb, cs, nck = parse_zstd(
            doc_id, raw, dicts=zstd_dicts(doc_id), used_dids=used
        )
        return [(nf, nb, cb, cs, sum(used), nck)]

    return row


@decoder(ZSTD_SCHEMA)
def decode_zstd():
    """One concatenated .zst file per row: ``parse_zstd``'s counts."""
    return lambda doc_id, raw: [parse_zstd(doc_id, raw)]
