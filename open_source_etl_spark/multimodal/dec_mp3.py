"""MPEG-1 Layer III + ID3 decode family (split out of decode.py so a worker running an MP3 kernel imports ONLY this module)."""

from __future__ import annotations

from .bits import peek_lut
from .host import decoder


MP3_META_SCHEMA = (
    "doc_id long, n_frames long, sample_rate long, duration_ms long, "
    "avg_kbps long, is_vbr boolean, n_padded long, n_crc_frames long, "
    "sum_main_data_begin long, max_main_data_begin long, "
    "sum_part2_3_length long, sum_big_values long, sum_global_gain long"
)


def mp3_crc16(data: bytes) -> int:
    """The MPEG audio CRC-16 (ISO 11172-3 2.4.3.1 / A.9): polynomial
    x^16 + x^15 + x^2 + 1 (0x8005), initial value 0xFFFF, MSB-first,
    no final inversion (the CRC-16/CMS catalogue entry).  For Layer III
    the protected span is header bytes 2-3 followed by the complete
    side information.  Byte-at-a-time over the same 0x8005 table as
    ``synth.flac_crc16`` (FLAC differs only in its zero initial value);
    tests/test_multimodal.py pins the catalogue check values and a
    bitwise reference."""
    from .synth import _CRC16_TABLE

    crc = 0xFFFF
    for b in data:
        crc = ((crc << 8) & 0xFFFF) ^ _CRC16_TABLE[(crc >> 8) ^ b]
    return crc


def parse_mp3_side_info(doc_id: int, si: bytes) -> tuple[int, list[tuple[int, int, int]]]:
    """Parse a full 17-byte MPEG-1 Layer III mono side info (ISO
    11172-3 2.4.1.7): main_data_begin, then per granule
    part2_3_length / big_values / global_gain / scalefac_compress and
    either the long-block branch (3 table_selects + region counts) or
    the window-switching branch (block_type, mixed_block_flag, 2
    table_selects, 3 subblock_gains — both branches are 22 bits), then
    the preflag/scalefac_scale/count1table_select tail.  Returns
    (main_data_begin, [(part2_3_length, big_values, global_gain)] x2).
    big_values above the spec's 288 ceiling, the reserved block_type 0
    under window switching, or a short buffer raise."""
    mdb, full = parse_mp3_side_info_full(doc_id, si)
    return mdb, [
        (g["part2_3_length"], g["big_values"], g["global_gain"]) for g in full
    ]


def parse_mp3_side_info_full(
    doc_id: int, si: bytes
) -> tuple[int, list[dict]]:
    """Full-field variant of ``parse_mp3_side_info``: every granule
    field, as dicts, for callers that go on to decode the main data
    (``decode_mp3_maindata``) and need scalefac_compress /
    windows_switching_flag / count1table_select, not just the
    frame-walk trio."""
    if len(si) < 17:
        raise ValueError(f"doc {doc_id}: side info shorter than 17 bytes")
    # one 136-bit integer + shift/mask extraction: the walker reads a
    # side info per frame, and a per-bit reader costs ~10x more here
    word = int.from_bytes(si[:17], "big")
    pos = 0

    def take(n: int) -> int:
        nonlocal pos
        pos += n
        return (word >> (136 - pos)) & ((1 << n) - 1)

    mdb = take(9)
    take(5)  # private_bits
    scfsi = take(4)
    granules: list[dict] = []
    for _g in (0, 1):
        g: dict = {"scfsi": scfsi}
        g["part2_3_length"] = take(12)
        g["big_values"] = take(9)
        if g["big_values"] > 288:
            raise ValueError(
                f"doc {doc_id}: big_values {g['big_values']} exceeds spec max 288"
            )
        g["global_gain"] = take(8)
        g["scalefac_compress"] = take(4)
        g["windows_switching_flag"] = take(1)
        if g["windows_switching_flag"]:
            block_type = take(2)
            if block_type == 0:
                raise ValueError(
                    f"doc {doc_id}: reserved block_type 0 under window switching"
                )
            g["block_type"] = block_type
            g["mixed_block_flag"] = take(1)
            g["table_select"] = [take(5), take(5)]
            g["subblock_gain"] = [take(3), take(3), take(3)]
        else:
            g["table_select"] = [take(5), take(5), take(5)]
            g["region0_count"] = take(4)
            g["region1_count"] = take(3)
        g["preflag"] = take(1)
        g["scalefac_scale"] = take(1)
        g["count1table_select"] = take(1)
        granules.append(g)
    return mdb, granules


@decoder(MP3_META_SCHEMA)
def decode_mp3_frames():
    """REAL MPEG-1 Layer III frame-header walk: skip the ID3v2 tag
    (syncsafe size), then step frame to frame by decoding each 4-byte
    header (sync, version, layer, bitrate index, sample-rate index,
    padding bit) and applying the Layer III length formula
    ``144 * bitrate // sample_rate + padding`` — plus a FULL parse of
    each frame's 17-byte mono side info (ISO 11172-3 2.4.1.7,
    ``parse_mp3_side_info``): ``main_data_begin`` (the bit-reservoir
    back-pointer, summed/maxed per stream — the reservoir-depth signal
    an audio curation pass uses to spot pathological encodes) and the
    per-granule ``part2_3_length`` / ``big_values`` / ``global_gain``
    fields (summed per stream), with spec bounds enforced
    (big_values ≤ 288, no reserved block_type).
    The stream-structure layer of an audio pipeline's metadata pass
    (duration, CBR/VBR, average bitrate) with NO audio decode: the
    Huffman/IMDCT sample reconstruction belongs to
    ``decode_mp3_maindata`` / ``decode_mp3_imdct``.  Malformed streams
    (bad sync, reserved bitrate/sample-rate indices, truncated final
    frame, a frame too short to carry its side info, trailing garbage)
    raise rather than yielding silently wrong durations."""

    from .synth import MP3_BITRATES_KBPS, MP3_SAMPLE_RATES, MP3_SAMPLES_PER_FRAME

    def walk(doc_id: int, raw: bytes):
        pos = 0
        if raw[:3] == b"ID3":
            if len(raw) < 10:
                raise ValueError(f"doc {doc_id}: truncated ID3v2 header")
            size = (
                (raw[6] << 21) | (raw[7] << 14) | (raw[8] << 7) | raw[9]
            )
            pos = 10 + size
        n_frames = n_padded = n_crc = 0
        kbps_sum = mdb_sum = mdb_max = 0
        p23_sum = bv_sum = gg_sum = 0
        kbps_seen: set[int] = set()
        sr = None
        while pos < len(raw):
            if pos + 4 > len(raw):
                raise ValueError(f"doc {doc_id}: truncated frame header")
            h0, h1, h2, _h3 = raw[pos : pos + 4]
            if h0 != 0xFF or (h1 & 0xE0) != 0xE0:
                raise ValueError(f"doc {doc_id}: lost sync at {pos}")
            if (h1 >> 3) & 0x3 != 0x3 or (h1 >> 1) & 0x3 != 0x1:
                raise ValueError(
                    f"doc {doc_id}: not MPEG-1 Layer III at {pos}"
                )
            br_idx = h2 >> 4
            sr_idx = (h2 >> 2) & 0x3
            padding = (h2 >> 1) & 0x1
            if br_idx in (0, 15) or sr_idx == 3:
                raise ValueError(
                    f"doc {doc_id}: reserved bitrate/samplerate at {pos}"
                )
            this_sr = MP3_SAMPLE_RATES[sr_idx]
            if sr is None:
                sr = this_sr
            elif sr != this_sr:
                raise ValueError(f"doc {doc_id}: sample-rate change at {pos}")
            kbps = MP3_BITRATES_KBPS[br_idx]
            frame_len = (144 * kbps * 1000) // this_sr + padding
            if pos + frame_len > len(raw):
                raise ValueError(f"doc {doc_id}: truncated final frame")
            # protection_absent 0: a 16-bit CRC (poly 0x8005,
            # init 0xFFFF) over header bytes 2-3 + the side info
            # sits between the header and the side info — VERIFIED
            protected = (h1 & 1) == 0
            crc_len = 2 if protected else 0
            if frame_len < 4 + crc_len + 17:
                raise ValueError(
                    f"doc {doc_id}: frame at {pos} too short for side info"
                )
            si_at = pos + 4 + crc_len
            if protected:
                want = (raw[pos + 4] << 8) | raw[pos + 5]
                got = mp3_crc16(
                    raw[pos + 2 : pos + 4]
                    + raw[si_at : si_at + 17]
                )
                if got != want:
                    raise ValueError(
                        f"doc {doc_id}: frame CRC mismatch at {pos}"
                    )
                n_crc += 1
            mdb, granules = parse_mp3_side_info(
                int(doc_id), raw[si_at : si_at + 17]
            )
            mdb_sum += mdb
            mdb_max = max(mdb_max, mdb)
            for part2_3, big_values, global_gain in granules:
                p23_sum += part2_3
                bv_sum += big_values
                gg_sum += global_gain
            n_frames += 1
            n_padded += padding
            kbps_sum += kbps
            kbps_seen.add(kbps)
            pos += frame_len
        if n_frames == 0 or sr is None:
            raise ValueError(f"doc {doc_id}: no MP3 frames")
        duration_ms = (n_frames * MP3_SAMPLES_PER_FRAME * 1000) // sr
        return (
            n_frames, sr, duration_ms, kbps_sum // n_frames,
            len(kbps_seen) > 1, n_padded, n_crc, mdb_sum, mdb_max,
            p23_sum, bv_sum, gg_sum,
        )

    return lambda doc_id, raw: [walk(doc_id, raw)]


MP3_MAINDATA_SCHEMA = (
    "doc_id long, n_frames long, max_reservoir long, sum_scalefac long, "
    "n_pairs long, sum_bv_abs long, sum_bv_signed long, "
    "n_quads long, sum_quad_abs long, sum_quad_signed long"
)

# ISO 11172-3 Table B.7 Huffman code tables for the big-values region,
# (code_length, code) -> (x, y).  Tables 1/2/3/5/6/7/8/9/10/11/12
# ship, each machine-verified against the three properties ONLY the
# genuine spec table satisfies simultaneously: exact x-by-y grid
# coverage, prefix-freeness, and a Kraft sum of exactly 1 (a complete
# code) — ``tests/test_multimodal.py`` re-asserts all three per
# table.  Tables 0 and 4 carry no code data by spec (0: an all-zero
# region transmits nothing; 4 and 14 are "not used"), so they are
# handled structurally.  Completeness makes the gate sharp: in a
# complete prefix code ANY single wrong codeword must either
# duplicate another leaf or land inside another codeword's subtree,
# so a transcription slip cannot pass silently (the residual risk is
# an equal-length codeword swap, cross-checked here against the
# spec tables' observed style invariants: near-symmetric hlen(x,y) ~
# hlen(y,x) and strictly decreasing same-length hcod along rows).
# Round 13 closed the 16x16 tier for tables 15 and 24: both passed
# the full gate after the hole-tiling reconstruction of their last
# row/column (round-13 record) — the
# inner 15x15 recall blocks validated clean standalone, and the 31
# edge cells were solved as an exact cover of the uncovered leaf
# space under the observed style invariants, with the recalled edge
# values agreeing at 20+ cells per table (two independent channels).
# Tables 16-23 share table 16's codes and 25-31 share table 24's,
# differing only in linbits (MP3_LINBITS below), so validating table
# 24 unlocks the whole 24-31 linbits family.
# Table 16 cleared the gate later in round 13 via the same split
# (rows 1/13 + one row-14 cell solved against the 13-row trusted
# block), unlocking 16-23.  Table 13 — the last B.7 gap — cleared in
# round 14 when a fresh full-table sitting passed the complete gate
# verbatim: its trusted block reproduced
# the committed round-13 hole/anchor record exactly, and the
# round-13 corner tie turned out to be a solver artifact (the edge
# solve capped lengths at 18, excluding t13's two real 19-bit codes
# at (15,12)/(15,14)).  EVERY B.7 table now ships.
MP3_HUFF_TABLES: dict[int, dict[tuple[int, int], tuple[int, int]]] = {
    1: {(1, 0b1): (0, 0), (2, 0b01): (1, 0),
        (3, 0b001): (0, 1), (3, 0b000): (1, 1)},
    2: {  # 3x3
        (1, 0b1): (0, 0), (3, 0b010): (0, 1), (6, 0b000001): (0, 2),
        (3, 0b011): (1, 0), (3, 0b001): (1, 1), (5, 0b00001): (1, 2),
        (5, 0b00011): (2, 0), (5, 0b00010): (2, 1), (6, 0b000000): (2, 2),
    },
    3: {  # 3x3
        (2, 0b11): (0, 0), (2, 0b10): (0, 1), (6, 0b000001): (0, 2),
        (3, 0b001): (1, 0), (2, 0b01): (1, 1), (5, 0b00001): (1, 2),
        (5, 0b00011): (2, 0), (5, 0b00010): (2, 1), (6, 0b000000): (2, 2),
    },
    5: {  # 4x4
        (1, 0b1): (0, 0), (3, 0b010): (0, 1), (6, 0b000110): (0, 2),
        (7, 0b0000101): (0, 3),
        (3, 0b011): (1, 0), (3, 0b001): (1, 1), (6, 0b000100): (1, 2),
        (7, 0b0000100): (1, 3),
        (6, 0b000111): (2, 0), (6, 0b000101): (2, 1),
        (7, 0b0000111): (2, 2), (8, 0b00000001): (2, 3),
        (7, 0b0000110): (3, 0), (6, 0b000001): (3, 1),
        (7, 0b0000001): (3, 2), (8, 0b00000000): (3, 3),
    },
    6: {  # 4x4
        (3, 0b111): (0, 0), (3, 0b011): (0, 1), (5, 0b00101): (0, 2),
        (7, 0b0000001): (0, 3),
        (3, 0b110): (1, 0), (2, 0b10): (1, 1), (4, 0b0011): (1, 2),
        (5, 0b00010): (1, 3),
        (4, 0b0101): (2, 0), (4, 0b0100): (2, 1), (5, 0b00100): (2, 2),
        (6, 0b000001): (2, 3),
        (6, 0b000011): (3, 0), (5, 0b00011): (3, 1), (6, 0b000010): (3, 2),
        (7, 0b0000000): (3, 3),
    },
    7: {  # 6x6
        (1, 1): (0, 0), (3, 2): (0, 1), (6, 10): (0, 2), (8, 19): (0, 3),
        (8, 16): (0, 4), (9, 10): (0, 5),
        (3, 3): (1, 0), (4, 3): (1, 1), (6, 7): (1, 2), (7, 10): (1, 3),
        (7, 5): (1, 4), (8, 3): (1, 5),
        (6, 11): (2, 0), (5, 4): (2, 1), (7, 13): (2, 2), (8, 17): (2, 3),
        (8, 8): (2, 4), (9, 4): (2, 5),
        (7, 12): (3, 0), (7, 11): (3, 1), (8, 18): (3, 2), (9, 15): (3, 3),
        (9, 11): (3, 4), (9, 2): (3, 5),
        (7, 7): (4, 0), (7, 6): (4, 1), (8, 9): (4, 2), (9, 14): (4, 3),
        (9, 3): (4, 4), (10, 1): (4, 5),
        (8, 6): (5, 0), (8, 4): (5, 1), (9, 5): (5, 2), (10, 3): (5, 3),
        (10, 2): (5, 4), (10, 0): (5, 5),
    },
}

# Tables 8-12, entered exactly as the spec prints them — hlen[x][y]
# and hcod[x][y] matrices — and expanded into MP3_HUFF_TABLES below.
# Transcription notes (the gate is
# tests/test_multimodal.py::test_mp3_huffman_tables_are_valid_complete_codes):
#   t8: first-pass recall was one leaf short at length 9 with a
#       duplicate 10-bit code between (4,5) and (5,3); the Kraft
#       arithmetic admits exactly two single-cell repairs, and the
#       style invariants (hlen near-symmetry |hlen(x,y)-hlen(y,x)|<=1,
#       column monotonicity) both select hlen(5,3)=9.
#   t9: validated complete on first transcription, untouched.
#   t10: validated complete on first transcription.  Round 11's
#        style sweep flagged row 6's len-10 hcods (recalled 11,16,6)
#        as violating the decreasing-order invariant and shipped the
#        reordered (16,11,6); round 13 settled the pair by
#        DOUBLE-ENTRY: a second-sitting transcription reproduced
#        11,16,6 verbatim (and t8/t9 machine-diffed at 0
#        disagreements, validating the protocol), while the
#        monotonicity heuristic acquired counterexamples inside
#        recall-agreed data (t10 column 6's len-9 run 12,19,18 in
#        BOTH sittings; t24 row 1's len-10 run).  Two agreeing
#        independent recalls outrank one style heuristic with known
#        exceptions, so the recalled order 11,16,6 ships —
#        verified-by-double-entry.
#   t11: row 5's eight recalled hcod VALUES exactly tile the 28
#        missing leaves left by rows 0-4,6,7 (six disjoint hole runs),
#        which uniquely forces its hlen row to 8,8,9,10,10,11,10,11.
#   t12: same joint reconstruction for row 7 — the recalled values
#        re-ordered as 27,12,8,12,6,3,1,0 tile the 19 missing leaves
#        and restore the strictly-decreasing same-length row order
#        every other shipped table exhibits.
_MP3_B7_MATRICES: dict[int, tuple[list, list]] = {
    8: (
        [[2, 3, 6, 8, 8, 9],
         [3, 2, 4, 8, 8, 8],
         [6, 4, 6, 8, 8, 9],
         [8, 8, 8, 9, 9, 10],
         [8, 7, 8, 9, 10, 10],
         [9, 8, 9, 9, 11, 11]],
        [[3, 4, 6, 18, 12, 5],
         [5, 1, 2, 16, 9, 3],
         [7, 3, 5, 14, 7, 3],
         [19, 17, 15, 13, 10, 4],
         [13, 5, 8, 11, 5, 1],
         [12, 4, 4, 1, 1, 0]],
    ),
    9: (
        [[3, 3, 5, 6, 8, 9],
         [3, 3, 4, 5, 6, 8],
         [4, 4, 5, 6, 7, 8],
         [6, 5, 6, 7, 7, 8],
         [7, 6, 7, 7, 8, 9],
         [8, 7, 8, 8, 9, 9]],
        [[7, 5, 9, 14, 15, 7],
         [6, 4, 5, 5, 6, 7],
         [7, 6, 8, 8, 8, 5],
         [15, 6, 9, 10, 5, 1],
         [11, 7, 9, 6, 4, 1],
         [14, 4, 6, 2, 6, 0]],
    ),
    10: (
        [[1, 3, 6, 8, 9, 9, 9, 10],
         [3, 4, 6, 7, 8, 9, 8, 8],
         [6, 6, 7, 8, 9, 10, 9, 9],
         [7, 7, 8, 9, 10, 10, 9, 10],
         [8, 8, 9, 10, 10, 10, 10, 10],
         [9, 9, 10, 10, 11, 11, 10, 11],
         [8, 8, 9, 10, 10, 10, 11, 11],
         [9, 8, 9, 10, 10, 11, 11, 11]],
        [[1, 2, 10, 23, 35, 30, 12, 17],
         [3, 3, 8, 12, 18, 21, 12, 7],
         [11, 9, 15, 21, 32, 40, 19, 6],
         [14, 13, 22, 34, 46, 23, 18, 7],
         [20, 19, 33, 47, 27, 22, 9, 3],
         [31, 22, 41, 26, 21, 20, 5, 3],
         [14, 13, 10, 11, 16, 6, 5, 1],
         [9, 8, 7, 8, 4, 4, 2, 0]],
    ),
    11: (
        [[2, 3, 5, 7, 8, 9, 8, 9],
         [3, 3, 4, 6, 8, 8, 7, 8],
         [5, 5, 6, 7, 8, 9, 8, 8],
         [7, 6, 7, 9, 8, 10, 8, 9],
         [8, 8, 8, 9, 9, 10, 9, 10],
         [8, 8, 9, 10, 10, 11, 10, 11],
         [8, 7, 7, 8, 9, 10, 10, 10],
         [8, 7, 8, 9, 10, 10, 10, 10]],
        [[3, 4, 10, 24, 34, 33, 21, 15],
         [5, 3, 4, 10, 32, 17, 11, 10],
         [11, 7, 13, 18, 30, 31, 20, 5],
         [25, 11, 19, 59, 27, 18, 12, 5],
         [35, 33, 31, 58, 30, 16, 7, 5],
         [28, 26, 32, 19, 17, 15, 8, 14],
         [14, 12, 9, 13, 14, 9, 4, 1],
         [11, 4, 6, 6, 6, 3, 2, 0]],
    ),
    12: (
        [[4, 3, 5, 7, 8, 9, 9, 9],
         [3, 3, 4, 5, 7, 7, 8, 8],
         [5, 4, 5, 6, 7, 8, 7, 8],
         [6, 5, 6, 6, 7, 8, 8, 8],
         [7, 6, 7, 7, 8, 8, 8, 9],
         [8, 7, 8, 8, 8, 9, 8, 9],
         [8, 7, 7, 8, 8, 9, 9, 10],
         [9, 8, 8, 9, 9, 9, 9, 10]],
        [[9, 6, 16, 33, 41, 39, 38, 26],
         [7, 5, 6, 9, 23, 16, 26, 11],
         [17, 7, 11, 14, 21, 30, 10, 7],
         [17, 10, 15, 12, 18, 28, 14, 5],
         [32, 13, 22, 19, 18, 16, 9, 5],
         [40, 17, 31, 29, 17, 13, 4, 2],
         [27, 12, 11, 15, 10, 7, 4, 1],
         [27, 12, 8, 12, 6, 3, 1, 0]],
    ),
    # Tables 15 and 24 (16x16), validated round 13.  Method (the
    # round-11 hole-tiling reconstruction, scaled up; gated by
    # test_mp3_huffman_tables_are_valid_complete_codes):
    #   1. the recalled inner 15x15 block of each table validated
    #      standalone (0 prefix conflicts, 0 duplicates, and a Kraft
    #      deficit exactly equal to the uncovered leaf mass);
    #   2. the uncovered leaf space decomposes into maximal aligned
    #      subtrees (23 holes for t15, 5 for t24), and the 31 edge
    #      cells (row 15 + column 15) must tile it EXACTLY;
    #   3. an exhaustive solver enumerated every tiling+assignment
    #      satisfying the style invariants all eleven previously
    #      validated tables exhibit (same-length hcod strictly
    #      decreasing along rows AND columns, |hlen(x,y)-hlen(y,x)|
    #      <= 1); the unique maximum-recall-agreement solution also
    #      had ZERO length-monotonicity violations along the edge
    #      lines and matched the recalled edge values at 20+ of the
    #      31 cells per table.
    #   t15: 9 recalled edge cells sat exactly on maximal holes; the
    #      residual 8-cell region had 4 style-clean candidates,
    #      disambiguated by recall agreement + minimal hole splitting
    #      (the winner's arithmetic code runs 26,21,16,11 / 30,25,
    #      20,15 also match the inner block's structure).
    #   t24: the recalled row 15 was confirmed verbatim; the only
    #      repairs were four column-15 LENGTHS (7,7,6,6 -> 8,8,8,8
    #      at x=11..14, values 6/4/2/0 kept), whose mass delta equals
    #      the recall's +128-leaf Kraft excess EXACTLY — no other
    #      4-cell repair is consistent with the row/column
    #      monotonicity and the even/odd row-vs-column code
    #      interleave the rest of the table exhibits.
    #   Residual risk (same class as t10 row 6, documented there): an
    #      equal-length swap between style-tied cells.
    # Table 13 (16x16, the largest non-linbits table and the only
    # B.7 table with 19-bit codes), validated round 14 by a fresh
    # full-table double entry: the new
    # sitting's 256-cell transcription passed the complete gate
    # VERBATIM — grid coverage, 0 prefix conflicts, Kraft exactly 1
    # — with no repairs, and its trusted block reproduced the
    # round-13 committed record exactly (same 30 maximal holes, same
    # 1672 leaf-19 deficit, all 7 anchors agree), so 217 cells are
    # confirmed by two independent sittings and the rest by
    # completeness (any single wrong cell must collide or leave a
    # hole).  The round-13 4486-way corner tie is explained, not
    # contradicted: the round-13 edge solver capped edge lengths at
    # 18 and enforced |hlen(x,y)-hlen(y,x)| <= 1 as HARD, excluding
    # the true corner — the table's two 19-bit codes 19/0 and 19/1
    # sit at (15,14)/(15,12) (hole 16/0 splits into the ladder
    # 19/0 + 19/1 + 18/1 + 17/1), and 17/23's owner is (14,9), not a
    # corner cell.  Style flags retained as known counterexamples:
    # the corner is genuinely asymmetric ((15,12)=19 vs (12,15)=16)
    # and five trusted-block rows violate same-length row order —
    # both heuristics were demoted in round 13 (t10 double-entry).
    13: (
        [[1, 4, 6, 7, 8, 9, 9, 10, 9, 10, 11, 11, 12, 12, 13, 13],
         [3, 4, 6, 7, 8, 8, 9, 9, 9, 9, 10, 10, 11, 12, 12, 12],
         [6, 6, 7, 8, 9, 9, 10, 10, 9, 10, 10, 11, 11, 12, 13, 13],
         [7, 7, 8, 9, 9, 10, 10, 10, 10, 11, 11, 11, 11, 12, 13,
          13],
         [8, 7, 9, 9, 10, 10, 11, 11, 10, 11, 11, 12, 12, 13, 13,
          14],
         [9, 8, 9, 10, 10, 10, 11, 11, 11, 11, 12, 11, 13, 13, 14,
          14],
         [9, 9, 10, 10, 11, 11, 11, 11, 11, 12, 12, 12, 13, 13, 14,
          14],
         [10, 9, 10, 11, 11, 11, 12, 12, 12, 12, 13, 13, 13, 14, 16,
          16],
         [9, 8, 9, 10, 10, 11, 11, 12, 12, 12, 12, 13, 13, 14, 15,
          15],
         [10, 9, 10, 10, 11, 11, 11, 13, 12, 13, 13, 14, 14, 14, 16,
          15],
         [10, 10, 10, 11, 11, 12, 12, 13, 12, 13, 14, 13, 14, 15,
          16, 17],
         [11, 10, 10, 11, 12, 12, 12, 12, 13, 13, 13, 14, 15, 15,
          15, 16],
         [11, 11, 11, 12, 12, 13, 12, 13, 14, 14, 15, 15, 15, 16,
          16, 16],
         [12, 11, 12, 13, 13, 13, 14, 14, 14, 14, 14, 15, 16, 15,
          16, 16],
         [13, 12, 12, 13, 13, 13, 15, 14, 14, 17, 15, 15, 15, 17,
          16, 16],
         [12, 12, 13, 14, 14, 14, 15, 14, 15, 15, 16, 16, 19, 18,
          19, 16]],
        [[1, 5, 14, 21, 34, 51, 46, 71, 42, 52, 68, 52, 67, 44, 43,
          19],
         [3, 4, 12, 19, 31, 26, 44, 33, 31, 24, 32, 24, 31, 35, 22,
          14],
         [15, 13, 23, 36, 59, 49, 77, 65, 29, 40, 30, 40, 27, 33,
          42, 16],
         [22, 20, 37, 61, 56, 79, 73, 64, 43, 76, 56, 37, 26, 31,
          25, 14],
         [35, 16, 60, 57, 97, 75, 114, 91, 54, 73, 55, 41, 48, 53,
          23, 24],
         [58, 27, 50, 96, 76, 70, 93, 84, 77, 58, 79, 29, 74, 49,
          41, 17],
         [47, 45, 78, 74, 115, 94, 90, 79, 69, 83, 71, 50, 59, 38,
          36, 15],
         [72, 34, 56, 95, 92, 85, 91, 90, 86, 73, 77, 65, 51, 44,
          43, 42],
         [43, 20, 30, 44, 55, 78, 72, 87, 78, 61, 46, 54, 37, 30,
          20, 16],
         [53, 25, 41, 37, 44, 59, 54, 81, 66, 76, 57, 54, 37, 18,
          39, 11],
         [35, 33, 31, 57, 42, 82, 72, 80, 47, 58, 55, 21, 22, 26,
          38, 22],
         [53, 25, 23, 38, 70, 60, 51, 36, 55, 26, 34, 23, 27, 14,
          9, 7],
         [34, 32, 28, 39, 49, 75, 30, 52, 48, 40, 52, 28, 18, 17,
          9, 5],
         [45, 21, 34, 64, 56, 50, 49, 45, 31, 19, 12, 15, 10, 7, 6,
          3],
         [48, 23, 20, 39, 36, 35, 53, 21, 16, 23, 13, 10, 6, 1, 4,
          2],
         [16, 15, 17, 27, 25, 20, 29, 11, 17, 12, 16, 8, 1, 1, 0,
          1]],
    ),
    15: (
        [[3, 4, 5, 7, 7, 8, 9, 9, 9, 10, 10, 11, 11, 11, 12, 13],
         [4, 3, 5, 6, 7, 7, 8, 8, 8, 9, 9, 10, 10, 10, 11, 11],
         [5, 5, 5, 6, 7, 7, 8, 8, 8, 9, 9, 10, 10, 11, 11, 11],
         [6, 6, 6, 7, 7, 8, 8, 9, 9, 9, 10, 10, 10, 11, 11, 11],
         [7, 6, 7, 7, 8, 8, 9, 9, 9, 9, 10, 10, 10, 11, 11, 11],
         [8, 7, 7, 8, 8, 8, 9, 9, 9, 9, 10, 10, 11, 11, 11, 12],
         [9, 7, 8, 8, 8, 9, 9, 9, 9, 10, 10, 10, 11, 11, 12, 12],
         [9, 8, 8, 9, 9, 9, 9, 10, 10, 10, 10, 10, 11, 11, 11, 12],
         [9, 8, 8, 9, 9, 9, 9, 10, 10, 10, 10, 11, 11, 12, 12, 12],
         [9, 8, 9, 9, 9, 9, 10, 10, 10, 11, 11, 11, 11, 12, 12, 12],
         [10, 9, 9, 9, 10, 10, 10, 10, 10, 11, 11, 11, 11, 12, 13,
          12],
         [10, 9, 9, 9, 10, 10, 10, 10, 11, 11, 11, 11, 12, 12, 13,
          12],
         [11, 10, 9, 10, 10, 10, 11, 11, 11, 11, 11, 11, 12, 12, 13,
          13],
         [11, 10, 10, 10, 10, 11, 11, 11, 11, 12, 12, 12, 12, 12, 13,
          13],
         [12, 11, 11, 11, 11, 11, 11, 11, 12, 12, 12, 12, 13, 13, 12,
          13],
         [12, 11, 11, 11, 11, 11, 11, 12, 12, 12, 12, 12, 13, 13, 13,
          13]],
        [[7, 12, 18, 53, 47, 76, 124, 108, 89, 123, 108, 119, 107, 81,
          122, 63],
         [13, 5, 16, 27, 46, 36, 61, 51, 42, 70, 52, 83, 65, 41, 59,
          36],
         [19, 17, 15, 24, 41, 34, 59, 48, 40, 64, 50, 78, 62, 80, 56,
          33],
         [29, 28, 25, 43, 39, 63, 55, 93, 76, 59, 93, 72, 54, 75, 50,
          29],
         [52, 22, 42, 40, 67, 57, 95, 79, 72, 57, 89, 69, 49, 66, 46,
          27],
         [77, 37, 35, 66, 58, 52, 91, 74, 62, 48, 79, 63, 90, 62, 40,
          38],
         [125, 32, 60, 56, 50, 92, 78, 65, 55, 87, 71, 51, 73, 51, 70,
          30],
         [109, 53, 49, 94, 88, 75, 66, 122, 91, 73, 56, 42, 64, 44,
          21, 25],
         [90, 43, 41, 77, 73, 63, 56, 92, 77, 66, 47, 67, 48, 53, 36,
          20],
         [71, 34, 67, 60, 58, 49, 88, 76, 67, 106, 71, 54, 38, 39, 23,
          15],
         [109, 53, 51, 47, 90, 82, 58, 57, 48, 72, 57, 41, 23, 27, 62,
          9],
         [86, 42, 40, 37, 70, 64, 52, 43, 70, 55, 42, 25, 29, 18, 11,
          6],
         [118, 68, 30, 55, 50, 46, 74, 65, 49, 39, 24, 16, 22, 13, 14,
          7],
         [91, 44, 39, 38, 34, 63, 52, 45, 31, 52, 28, 19, 14, 8, 9,
          3],
         [123, 60, 58, 53, 47, 43, 32, 22, 37, 24, 17, 12, 15, 10, 2,
          1],
         [71, 37, 34, 30, 28, 20, 17, 26, 21, 16, 11, 10, 8, 6, 2,
          0]],
    ),
    24: (
        [[4, 4, 6, 7, 8, 9, 9, 10, 10, 11, 11, 11, 11, 11, 12, 9],
         [4, 4, 5, 6, 7, 8, 8, 9, 9, 9, 10, 10, 10, 10, 10, 8],
         [6, 5, 6, 7, 7, 8, 8, 9, 9, 9, 9, 10, 10, 10, 11, 7],
         [7, 6, 7, 7, 8, 8, 8, 9, 9, 9, 9, 10, 10, 10, 10, 7],
         [8, 7, 7, 8, 8, 8, 8, 9, 9, 9, 10, 10, 10, 10, 11, 7],
         [9, 7, 8, 8, 8, 8, 9, 9, 9, 9, 10, 10, 10, 10, 10, 7],
         [9, 8, 8, 8, 8, 9, 9, 9, 9, 10, 10, 10, 10, 10, 11, 7],
         [10, 8, 8, 8, 9, 9, 9, 9, 10, 10, 10, 10, 10, 11, 11, 8],
         [10, 9, 9, 9, 9, 9, 9, 9, 9, 10, 10, 10, 10, 11, 11, 8],
         [10, 9, 9, 9, 9, 9, 9, 10, 10, 10, 10, 10, 11, 11, 11, 8],
         [11, 9, 9, 9, 9, 10, 10, 10, 10, 10, 10, 11, 11, 11, 11, 8],
         [11, 10, 9, 9, 9, 10, 10, 10, 10, 10, 10, 11, 11, 11, 11,
          8],
         [11, 10, 10, 10, 10, 10, 10, 10, 10, 10, 11, 11, 11, 11, 11,
          8],
         [11, 10, 10, 10, 10, 10, 10, 10, 11, 11, 11, 11, 11, 11, 11,
          8],
         [12, 10, 10, 10, 10, 10, 10, 11, 11, 11, 11, 11, 11, 11, 11,
          8],
         [8, 7, 7, 7, 7, 7, 7, 7, 7, 7, 7, 8, 8, 8, 8, 4]],
        [[15, 13, 46, 80, 146, 262, 248, 434, 426, 669, 653, 649, 621,
          517, 1032, 88],
         [14, 12, 21, 38, 71, 130, 122, 216, 209, 198, 327, 345, 319,
          297, 279, 42],
         [47, 22, 41, 74, 68, 128, 120, 221, 207, 194, 182, 340, 315,
          295, 541, 18],
         [81, 39, 75, 70, 134, 125, 116, 220, 204, 190, 178, 325, 311,
          293, 271, 16],
         [147, 72, 69, 135, 127, 118, 112, 210, 200, 188, 352, 323,
          306, 285, 540, 14],
         [263, 66, 129, 126, 119, 114, 214, 202, 192, 180, 341, 317,
          301, 281, 262, 12],
         [249, 123, 121, 117, 113, 215, 206, 195, 185, 347, 330, 308,
          291, 272, 520, 10],
         [435, 115, 111, 109, 211, 203, 196, 187, 353, 332, 313, 298,
          283, 531, 381, 17],
         [427, 212, 208, 205, 201, 193, 186, 177, 169, 320, 303, 286,
          268, 514, 377, 16],
         [335, 199, 197, 191, 189, 181, 174, 333, 321, 305, 289, 275,
          521, 379, 371, 11],
         [668, 184, 183, 179, 175, 344, 331, 314, 304, 290, 277, 530,
          383, 373, 366, 10],
         [652, 346, 171, 168, 164, 318, 309, 299, 287, 276, 263, 513,
          375, 368, 362, 6],
         [648, 322, 316, 312, 307, 302, 292, 284, 269, 261, 512, 376,
          370, 364, 359, 4],
         [620, 300, 296, 294, 288, 282, 273, 266, 515, 380, 374, 369,
          365, 361, 357, 2],
         [1033, 280, 278, 274, 267, 264, 259, 382, 378, 372, 367, 363,
          360, 358, 356, 0],
         [43, 20, 19, 17, 15, 13, 11, 9, 7, 6, 4, 7, 5, 3, 1, 3]],
    ),
    # Table 16 (16x16, the linbits family 16-23's shared code
    # matrix), validated round 13 by the same split: the 13-row
    # trusted block (all rows except 1, 13 and cell (14,12))
    # validated clean standalone with deficit 7565/32768, and the
    # recalled row-1/row-13 values tiled the 30 maximal holes almost
    # verbatim — all 16 row-1 cells land on holes exactly (5 with
    # the one-level length slip), row 13's 211/210 pair splits hole
    # 11/105, and the deep corner closed through the descendant
    # pattern: recalled 3459/6917 are hole 16/1729's length-17/18
    # descendants (the unique mass-consistent partition is 17/3459 +
    # 18/6916 + 18/6917, with recalled "3458" the doubling-misread
    # of 18/6916).  Style caveats recorded in the workbench: t16's
    # own TRUSTED rows violate the small tables' row-monotonicity
    # and near-symmetry invariants (rows 7/12/14; (9,12) vs (12,9)),
    # so those heuristics were not applied against recall here.
    16: (
        [[1, 4, 6, 8, 9, 9, 10, 10, 11, 11, 11, 12, 12, 12, 13, 9],
         [3, 4, 6, 7, 8, 9, 9, 9, 10, 10, 10, 11, 12, 11, 12, 8],
         [6, 6, 7, 8, 9, 9, 10, 10, 11, 10, 11, 11, 11, 12, 12, 9],
         [8, 7, 8, 9, 9, 10, 10, 10, 11, 11, 12, 12, 12, 13, 13,
          10],
         [9, 8, 9, 9, 10, 10, 11, 11, 11, 12, 12, 12, 13, 13, 13,
          9],
         [9, 8, 9, 9, 10, 11, 11, 12, 11, 12, 12, 13, 13, 13, 14,
          10],
         [10, 9, 9, 10, 11, 11, 11, 11, 12, 12, 12, 12, 13, 13, 14,
          10],
         [10, 9, 10, 10, 11, 11, 11, 12, 12, 13, 13, 13, 13, 15, 15,
          10],
         [10, 10, 10, 11, 11, 11, 12, 12, 13, 13, 13, 13, 14, 14,
          14, 10],
         [11, 10, 10, 11, 11, 12, 12, 13, 13, 13, 13, 14, 13, 14,
          13, 11],
         [11, 11, 10, 11, 12, 12, 12, 12, 13, 14, 14, 14, 15, 15,
          14, 10],
         [12, 11, 11, 11, 12, 12, 13, 14, 14, 14, 14, 14, 14, 13,
          14, 11],
         [12, 12, 12, 12, 12, 13, 13, 13, 13, 15, 14, 14, 14, 14,
          16, 11],
         [14, 12, 12, 12, 13, 13, 14, 14, 14, 16, 14, 17, 15, 18,
          15, 11],
         [13, 13, 11, 12, 14, 14, 13, 14, 14, 15, 16, 15, 18, 15,
          14, 11],
         [9, 8, 8, 9, 9, 10, 10, 10, 11, 11, 11, 11, 11, 11, 11,
          8]],
        [[1, 5, 14, 44, 74, 63, 110, 93, 172, 149, 138, 242, 225,
          195, 376, 17],
         [3, 4, 12, 20, 35, 62, 53, 47, 83, 75, 68, 119, 201, 107,
          207, 9],
         [15, 13, 23, 38, 67, 58, 103, 90, 161, 72, 127, 117, 110,
          209, 206, 16],
         [45, 21, 39, 69, 64, 114, 99, 87, 158, 140, 252, 212, 199,
          387, 365, 26],
         [75, 36, 68, 65, 115, 101, 179, 164, 155, 264, 246, 226,
          395, 382, 362, 9],
         [66, 30, 59, 56, 102, 185, 173, 265, 142, 253, 232, 400,
          388, 378, 445, 16],
         [111, 54, 52, 100, 184, 178, 160, 133, 257, 244, 228, 217,
          385, 366, 715, 10],
         [98, 48, 91, 88, 165, 157, 148, 261, 248, 407, 397, 372,
          380, 889, 884, 8],
         [85, 84, 81, 159, 156, 143, 260, 249, 427, 401, 392, 383,
          727, 713, 708, 7],
         [154, 76, 73, 141, 131, 256, 245, 426, 406, 394, 384, 735,
          359, 710, 352, 11],
         [139, 129, 67, 125, 247, 233, 229, 219, 393, 743, 737, 720,
          885, 882, 439, 4],
         [243, 120, 118, 115, 227, 223, 396, 746, 742, 736, 721,
          712, 706, 223, 436, 6],
         [202, 224, 222, 218, 216, 389, 386, 381, 364, 888, 443,
          707, 440, 437, 1728, 4],
         [747, 211, 210, 208, 370, 379, 734, 723, 714, 1735, 438,
          3459, 883, 6917, 865, 2],
         [377, 369, 102, 187, 726, 722, 358, 711, 709, 866, 1734,
          871, 6916, 870, 434, 0],
         [12, 10, 7, 11, 10, 17, 11, 9, 13, 12, 10, 7, 5, 3, 1,
          3]],
    ),
}

# ISO 11172-3 Table B.7 linbits escape widths: tables 16-23 all use
# table 16's code matrix and tables 25-31 use table 24's — the
# table_select ids differ ONLY in how many raw bits extend an x or y
# decoded as 15 (value = 15 + linbits field, sign bit after).  This
# sharing is spec structure, not an implementation shortcut: B.7
# prints the 16-23 and 24-31 blocks once each with a linbits column.
for _t, (_hl, _hc) in _MP3_B7_MATRICES.items():
    MP3_HUFF_TABLES[_t] = {
        (_hl[_x][_y], _hc[_x][_y]): (_x, _y)
        for _x in range(len(_hl)) for _y in range(len(_hl[0]))
    }
del _t, _hl, _hc


MP3_LINBITS: dict[int, int] = {
    16: 1, 17: 2, 18: 3, 19: 4, 20: 6, 21: 8, 22: 10, 23: 13,
    24: 4, 25: 5, 26: 6, 27: 7, 28: 8, 29: 9, 30: 11, 31: 13,
}

# The B.7 tables as ``bits.peek_lut`` tables, built lazily once per
# process.  Every shipped table is complete (Kraft sum exactly 1,
# asserted per table in tests/test_multimodal.py), so every k-bit
# window resolves to one codeword.
_MP3_BV_LUTS: dict[int, tuple[list[int], int]] = {}
_MP3_C1A_LUT: tuple[list[int], int] | None = None


def _mp3_bv_lut_sel(tsel: int, doc_id: int) -> tuple[list[int], int, int]:
    """Resolve a big-values ``table_select`` to (peek LUT, peek bits,
    linbits): ids 16-23 share table 16's code matrix and 25-31 share
    table 24's (B.7 prints each block once with a linbits column); 4
    and 14 are reserved."""
    if tsel in (4, 14):
        raise ValueError(
            f"doc {doc_id}: table_select {tsel} is reserved "
            "('not used' in Table B.7)"
        )
    base = tsel
    if 16 <= tsel <= 23:
        base = 16
    elif 24 <= tsel <= 31:
        base = 24
    got = _MP3_BV_LUTS.get(base)
    if got is None:
        got = _MP3_BV_LUTS[base] = peek_lut({
            key: (key[0] << 8) | (x << 4) | y
            for key, (x, y) in MP3_HUFF_TABLES[base].items()
        })
        if None in got[0]:  # pragma: no cover - completeness is test-asserted
            raise AssertionError(f"B.7 table {base} is not complete")
    lut, k = got
    return lut, k, MP3_LINBITS.get(tsel, 0)


def _mp3_c1a_lut() -> list[int]:
    """Count1 table A as a 6-bit peek LUT, entries
    (code_length << 4) | quad — table A is complete, same gate."""
    global _MP3_C1A_LUT
    if _MP3_C1A_LUT is None:
        got = peek_lut({
            key: (key[0] << 4) | quad for key, quad in MP3_COUNT1A.items()
        })
        if None in got[0]:  # pragma: no cover
            raise AssertionError("count1 table A is not complete")
        _MP3_C1A_LUT = got
    return _MP3_C1A_LUT[0]


def _mp3_peek(data, p: int, k: int) -> int:
    """k bits of ``data`` MSB-first from absolute bit position p,
    zero-padded past the buffer end — callers bound-check the MATCHED
    code's length afterwards, which reproduces the per-bit walk's
    raise sites exactly (a match that fits is identical; a match that
    would need out-of-range bits means the walk had no in-range match
    and raised on its next read)."""
    chunk = data[p >> 3 : (p + k + 7) >> 3]
    avail = (len(chunk) << 3) - (p & 7)
    v = int.from_bytes(chunk, "big")
    if avail >= k:
        return (v >> (avail - k)) & ((1 << k) - 1)
    if avail <= 0:
        return 0
    return (v & ((1 << avail) - 1)) << (k - avail)


# ISO 11172-3 Table B.7 "count1 table A": the Huffman-coded (vs table
# B's fixed-length complement) encoding of the count1 quadruples,
# (code_length, code) -> the 4-bit (v<<3 | w<<2 | x<<1 | y) pattern —
# transmitted UNcomplemented, unlike table B.  Validated by the same
# grid/prefix/Kraft triple as the big-values tables.
MP3_COUNT1A: dict[tuple[int, int], int] = {
    (1, 0b1): 0, (4, 0b0101): 1, (4, 0b0100): 2, (5, 0b00101): 3,
    (4, 0b0110): 4, (6, 0b000101): 5, (5, 0b00100): 6, (6, 0b000100): 7,
    (4, 0b0111): 8, (5, 0b00011): 9, (5, 0b00110): 10, (6, 0b000000): 11,
    (5, 0b00111): 12, (6, 0b000010): 13, (6, 0b000001): 14,
    (6, 0b000011): 15,
}

# ISO 11172-3 Table B.8: long-block scalefactor band boundaries
# (sample indices) per sample rate — the boundaries that split the
# big-values region into its three table_select regions via
# region0_count/region1_count.  All three MPEG-1 rows ship;
# transcription validation here is structural (23 boundaries, 0
# start, 576 end, strictly increasing — asserted in
# tests/test_multimodal.py) plus the fixture round-trip at the
# diverging boundaries (the rows agree through b[8] = 36 and split
# at b[9]: 44 / 42 / 44).
MP3_SFB_LONG_44100 = (
    0, 4, 8, 12, 16, 20, 24, 30, 36, 44, 52, 62, 74, 90, 110, 134,
    162, 196, 238, 288, 342, 418, 576,
)
# ISO 11172-3 Table B.8 SHORT-block scalefactor band boundaries
# (per-window sample indices, 12 bands + the unscaled zone) — same
# structural gate as the long rows: 13 boundaries, 0 start, strictly
# increasing, 3x the last boundary <= 576 (tests/test_multimodal.py).
MP3_SFB_SHORT = {
    44100: (0, 4, 8, 12, 16, 22, 30, 40, 52, 66, 84, 106, 136),
    48000: (0, 4, 8, 12, 16, 22, 28, 38, 50, 64, 80, 100, 126),
    32000: (0, 4, 8, 12, 16, 22, 30, 42, 58, 78, 104, 138, 180),
}

MP3_SFB_LONG = {
    44100: MP3_SFB_LONG_44100,
    48000: (
        0, 4, 8, 12, 16, 20, 24, 30, 36, 42, 50, 60, 72, 88, 106, 128,
        156, 190, 230, 276, 330, 384, 576,
    ),
    32000: (
        0, 4, 8, 12, 16, 20, 24, 30, 36, 44, 54, 66, 82, 102, 126, 156,
        194, 240, 296, 364, 448, 550, 576,
    ),
}


@decoder(MP3_MAINDATA_SCHEMA)
def decode_mp3_maindata():
    """REAL MPEG-1 Layer III main-data entropy decode (the layer below
    the frame walk): reassemble the bit reservoir from the physical
    frame regions, seek each frame's main data ``main_data_begin``
    bytes BACK across frame boundaries (2.4.2.7 — the data for frame k
    usually lives in frames k-1/k-2), then bit-decode each granule:
    slen-coded scalefactors (Table 2.4.2.7 via ``MP3_SLEN``) with
    REAL scfsi handling — granule 1 reuses granule 0's values for
    every scalefactor band group whose scfsi bit is set and transmits
    nothing for it — the big-values spectrum region — pair codes through the per-region
    ``table_select`` (every B.7 table: 1-3, 5-13, 15 and the linbits
    escape tables 16-31, each validated complete + prefix-free on its
    exact grid by ``test_mp3_huffman_tables_are_valid_complete_codes``;
    table 0 regions transmit nothing; an ESC coordinate is extended by
    the table's linbits field before its sign bit), sign bits after
    each code, region boundaries from Table
    B.8 when the three tables differ — and the count1 region in either
    code: Huffman table A (``count1table_select = 0``, uncomplemented
    patterns) or the fixed-length table-B code (4 complement bits per
    quadruple + one sign bit per nonzero value), asserting EXACT
    ``part2_3_length`` consumption.

    Declared stub boundary: region-dependent table switching at a
    sample rate without a shipped B.8 row raises
    ``NotImplementedError`` — everything this decoder emits it
    computed from the entropy bitstream itself.
    Malformed streams (reservoir pointer before stream start, granule
    bits overrunning part2_3_length, invalid Huffman codes, truncated
    regions) raise."""

    from .synth import MP3_BITRATES_KBPS, MP3_SAMPLE_RATES, MP3_SLEN

    lutA = _mp3_c1a_lut()

    def walk(doc_id: int, raw: bytes):
        pos = 0
        if raw[:3] == b"ID3":
            size = (
                (raw[6] << 21) | (raw[7] << 14) | (raw[8] << 7) | raw[9]
            )
            pos = 10 + size
        frames = []  # (region_start_in_stream, mdb, granule dicts)
        stream = bytearray()
        while pos < len(raw):
            if pos + 4 > len(raw):
                raise ValueError(f"doc {doc_id}: truncated frame header")
            h0, h1, h2, _h3 = raw[pos : pos + 4]
            if h0 != 0xFF or (h1 & 0xE0) != 0xE0:
                raise ValueError(f"doc {doc_id}: lost sync at {pos}")
            br_idx = h2 >> 4
            sr_idx = (h2 >> 2) & 0x3
            padding = (h2 >> 1) & 0x1
            if br_idx in (0, 15) or sr_idx == 3:
                raise ValueError(
                    f"doc {doc_id}: reserved bitrate/samplerate at {pos}"
                )
            sr = MP3_SAMPLE_RATES[sr_idx]
            kbps = MP3_BITRATES_KBPS[br_idx]
            frame_len = (144 * kbps * 1000) // sr + padding
            if pos + frame_len > len(raw) or frame_len < 21:
                raise ValueError(f"doc {doc_id}: truncated frame at {pos}")
            mdb, granules = parse_mp3_side_info_full(
                doc_id, raw[pos + 4 : pos + 21]
            )
            frames.append((len(stream), mdb, sr, granules))
            stream += raw[pos + 21 : pos + frame_len]
            pos += frame_len
        if not frames:
            raise ValueError(f"doc {doc_id}: no MP3 frames")

        sum_sf = n_quads = sum_abs = sum_signed = max_resv = 0
        n_pairs = sum_bv_abs = sum_bv_signed = 0
        for region_start, mdb, sr, granules in frames:
            if mdb > region_start:
                raise ValueError(
                    f"doc {doc_id}: reservoir pointer {mdb} reaches "
                    f"before the main-data stream start"
                )
            max_resv = max(max_resv, mdb)
            bp = (region_start - mdb) * 8  # bit cursor into stream

            g0_bands: list | None = None
            for gi, g in enumerate(granules):
                short = (
                    g["windows_switching_flag"]
                    and g["block_type"] == 2
                )
                mixed = short and g["mixed_block_flag"]
                p23 = g["part2_3_length"]
                # One bigint per granule, fields extracted by shift
                # (a per-bit Python reader here dominated the sf0.1
                # bench).  The slice rounds up to byte edges, so a
                # final quadruple may legally read a few bits past
                # p23 before the overrun check rejects it.
                off = bp & 7
                base = bp >> 3
                nbytes = (off + p23 + 7) // 8
                if base + nbytes > len(stream):
                    raise ValueError(
                        f"doc {doc_id}: main data ends mid-field"
                    )
                # take() reads straight from the stream bytes:
                # the previous whole-granule bigint paid an
                # O(granule-size) shift per field read

                tot = nbytes * 8
                used = 0

                def take(n: int) -> int:
                    nonlocal used
                    end = off + used + n
                    if end > tot:
                        raise ValueError(
                            f"doc {doc_id}: main data ends mid-field"
                        )
                    p = (base << 3) + off + used
                    used = end - off
                    if n == 1:
                        return (stream[p >> 3] >> (7 - (p & 7))) & 1
                    pe = p + n
                    val = int.from_bytes(
                        stream[p >> 3 : (pe + 7) >> 3], "big"
                    )
                    return (val >> ((-pe) & 7)) & ((1 << n) - 1)

                # scalefactors (2.4.2.7): long granules transmit
                # 21 bands (granule 1 REUSES granule 0's values
                # for every band group whose scfsi bit is set and
                # transmits nothing for it); short granules
                # (block_type 2, mixed off) transmit 12 bands x 3
                # windows — bands 0-5 at slen1, 6-11 at slen2 —
                # and scfsi MUST be all-zero for them
                sl1, sl2 = MP3_SLEN[g["scalefac_compress"]]
                if short:
                    if g["scfsi"]:
                        raise ValueError(
                            f"doc {doc_id}: scfsi set on a "
                            "short-block granule"
                        )
                    total = 0
                    if mixed:
                        # mixed partition (2.4.2.7): 8 LONG bands
                        # at slen1, then short bands 3-5 at slen1
                        # and 6-11 at slen2, 3 windows each — the
                        # spec's 17*slen1 + 18*slen2 part2 layout
                        for _bnd in range(8):
                            total += take(sl1)
                        for bnd in range(3, 12):
                            slen = sl1 if bnd < 6 else sl2
                            for _w in range(3):
                                total += take(slen)
                    else:
                        for bnd in range(12):
                            slen = sl1 if bnd < 6 else sl2
                            for _w in range(3):
                                total += take(slen)
                    sum_sf += total
                else:
                    groups = ((0, 6, sl1), (6, 5, sl1),
                              (11, 5, sl2), (16, 5, sl2))
                    bands = [0] * 21
                    for g_idx, (b_start, b_n, slen) in enumerate(
                        groups
                    ):
                        reuse = gi == 1 and (
                            (g["scfsi"] >> (3 - g_idx)) & 1
                        )
                        if reuse:
                            if g0_bands is None:
                                raise ValueError(
                                    f"doc {doc_id}: scfsi "
                                    "reuse without a long "
                                    "granule 0"
                                )
                            bands[b_start : b_start + b_n] = (
                                g0_bands[b_start : b_start + b_n]
                            )
                        else:
                            # one read per band GROUP (same bits,
                            # same mid-field raise), split by shift
                            v = take(b_n * slen)
                            msk = (1 << slen) - 1
                            for i in range(b_n):
                                bands[b_start + i] = (
                                    v >> ((b_n - 1 - i) * slen)
                                ) & msk
                    sum_sf += sum(bands)
                    if gi == 0:
                        g0_bands = bands
                # big-values region: pairs Huffman-decoded through
                # the region's table_select, x's sign then y's sign
                # after each pair code (ISO 2.4.2.7).  Region
                # boundaries only matter when the three tables
                # differ — then they come from the rate's Table
                # B.8 row (all three MPEG-1 rows shipped); uniform
                # table_selects decode without boundary knowledge.
                nbv = g["big_values"]
                if nbv:
                    tsels = g["table_select"]
                    if len(set(tsels)) == 1:
                        regions = [(nbv, tsels[0])]
                    elif g["windows_switching_flag"]:
                        # window-switching granules carry IMPLIED
                        # region boundaries (2.4.2.7): two regions,
                        # region0 ending at sample 36 — fixed for
                        # block_type-2 (short) granules, and equal
                        # to the long layout's 8th boundary for
                        # start/stop blocks (types 1/3), which is
                        # ALSO 36 on every MPEG-1 B.8 row (the
                        # rows agree through b[8])
                        r0 = min(nbv, 18)
                        regions = [
                            (r0, tsels[0]),
                            (nbv - r0, tsels[1]),
                        ]
                    else:
                        b = MP3_SFB_LONG.get(sr)
                        if b is None:
                            raise NotImplementedError(
                                "region-dependent table switching "
                                f"needs the ISO B.8 row for "
                                f"{sr} Hz (MPEG-1 rows shipped)"
                            )
                        r0 = min(
                            nbv, b[g["region0_count"] + 1] // 2
                        )
                        r1 = min(
                            nbv,
                            b[
                                g["region0_count"]
                                + g["region1_count"]
                                + 2
                            ]
                            // 2,
                        )
                        regions = [
                            (r0, tsels[0]),
                            (r1 - r0, tsels[1]),
                            (nbv - r1, tsels[2]),
                        ]
                    for count, tsel in regions:
                        if count <= 0:
                            continue
                        if tsel == 0:
                            # table 0: the region is all zeros and
                            # transmits nothing
                            n_pairs += count
                            continue
                        lut, kk, linbits = _mp3_bv_lut_sel(
                            tsel, doc_id
                        )
                        for _ in range(count):
                            # one peek-LUT probe per pair code
                            # (complete table: every kk-bit
                            # pattern resolves); the bound check
                            # is take()'s, verbatim
                            e = lut[
                                _mp3_peek(
                                    stream,
                                    (base << 3) + off + used,
                                    kk,
                                )
                            ]
                            ln = e >> 8
                            if off + used + ln > tot:
                                raise ValueError(
                                    f"doc {doc_id}: main data "
                                    "ends mid-field"
                                )
                            used += ln
                            x = (e >> 4) & 15
                            y = e & 15
                            # linbits escape: a decoded 15 is
                            # extended by the raw linbits field
                            # BEFORE its sign bit (2.4.2.7 order:
                            # code, linbits-x, sign-x, linbits-y,
                            # sign-y) — all four fields in ONE
                            # take (same bits, same raise)
                            lx = linbits if x == 15 else 0
                            ly = linbits if y == 15 else 0
                            ex = (
                                lx + (1 if x else 0)
                                + ly + (1 if y else 0)
                            )
                            if ex:
                                bits = take(ex)
                                rem = ex
                                if x:
                                    if lx:
                                        rem -= lx
                                        x += (bits >> rem) & (
                                            (1 << lx) - 1
                                        )
                                    rem -= 1
                                    sum_bv_abs += x
                                    sum_bv_signed += (
                                        -x if (bits >> rem) & 1
                                        else x
                                    )
                                if y:
                                    if ly:
                                        rem -= ly
                                        y += (bits >> rem) & (
                                            (1 << ly) - 1
                                        )
                                    rem -= 1
                                    sum_bv_abs += y
                                    sum_bv_signed += (
                                        -y if (bits >> rem) & 1
                                        else y
                                    )
                            n_pairs += 1
                            if used > p23:
                                raise ValueError(
                                    f"doc {doc_id}: big-values "
                                    "region overran part2_3_length"
                                )
                count1a = not g["count1table_select"]
                while used < p23:
                    if count1a:
                        # table A: Huffman-coded quadruple pattern,
                        # transmitted UNcomplemented (max code 6
                        # bits) — 6-bit peek LUT, complete code
                        e = lutA[
                            _mp3_peek(
                                stream,
                                (base << 3) + off + used,
                                6,
                            )
                        ]
                        ln = e >> 4
                        if off + used + ln > tot:
                            raise ValueError(
                                f"doc {doc_id}: main data "
                                "ends mid-field"
                            )
                        used += ln
                        quad = e & 15
                    else:
                        # table B: fixed-length, complemented
                        quad = take(4) ^ 0xF
                    nz = quad.bit_count()
                    if nz:
                        # the quad's sign bits in one read (v,w,x,y
                        # order = MSB-first in the read value)
                        bits = take(nz)
                        sum_abs += nz
                        sum_signed += nz - 2 * bits.bit_count()
                    n_quads += 1
                    if used > p23:
                        raise ValueError(
                            f"doc {doc_id}: count1 quadruple overran "
                            f"part2_3_length"
                        )
                bp += p23
        return (
            len(frames), max_resv, sum_sf, n_pairs, sum_bv_abs,
            sum_bv_signed, n_quads, sum_abs, sum_signed,
        )

    return lambda doc_id, raw: [walk(doc_id, raw)]


# ISO 11172-3 Table B.9 alias-reduction coefficients ci — the hybrid
# filterbank's butterfly weights csi = 1/sqrt(1+ci^2),
# cai = ci/sqrt(1+ci^2) are DERIVED from these eight published values
# (not transcribed tables, so no Kraft-style gate applies; the DuckDB
# oracle re-derives them from the same literals).
MP3_ALIAS_CI = (
    -0.6, -0.535, -0.33, -0.185, -0.095, -0.041, -0.0142, -0.0037,
)

_MP3_FB_Q = 4096  # Q12 fixed point: keeps every product in bigint

_MP3_FB_TABLES = None


def _mp3_fb_tables():
    """Q12 integer tables for the hybrid synthesis filterbank: the
    36-point IMDCT cosine matrix cos(pi/72 (2n+19)(2k+1)), the
    12-point short-block matrix cos(pi/24 (2m+7)(2k+1)), the four
    block-type windows (2.4.3.4.10.3: normal sine, start, short,
    stop), and the B.9 butterfly weights.  floor(x + 0.5) rounding
    matches SQL ROUND() everywhere except exact .5 ties, which the
    involved irrational values cannot produce (Niven: rational
    cos(pi q) is only 0, ±1/2, ±1 — all of which quantize to
    integers)."""
    global _MP3_FB_TABLES
    if _MP3_FB_TABLES is None:
        import math

        q = _MP3_FB_Q

        def fix(x: float) -> int:
            return int(math.floor(q * x + 0.5))

        cos36 = [
            [
                fix(math.cos(math.pi / 72 * (2 * n + 19) * (2 * k + 1)))
                for k in range(18)
            ]
            for n in range(36)
        ]
        cos12 = [
            [
                fix(math.cos(math.pi / 24 * (2 * m + 7) * (2 * k + 1)))
                for k in range(6)
            ]
            for m in range(12)
        ]
        sin36 = [fix(math.sin(math.pi / 36 * (n + 0.5))) for n in range(36)]
        sin12 = [fix(math.sin(math.pi / 12 * (n + 0.5))) for n in range(12)]
        win_start = (
            sin36[:18]
            + [q] * 6
            + [sin12[n - 24 + 6] for n in range(24, 30)]
            + [0] * 6
        )
        win_stop = (
            [0] * 6
            + [sin12[n - 6] for n in range(6, 12)]
            + [q] * 6
            + sin36[18:]
        )
        windows = {0: sin36, 1: win_start, 3: win_stop}
        cs = [fix(1 / math.sqrt(1 + c * c)) for c in MP3_ALIAS_CI]
        ca = [fix(c / math.sqrt(1 + c * c)) for c in MP3_ALIAS_CI]
        _MP3_FB_TABLES = (cos36, cos12, windows, sin12, cs, ca)
    return _MP3_FB_TABLES


@decoder(
    "doc_id long, n_granules long, sum_pcm_signed long, "
    "sum_pcm_abs long, n_nonzero_samples long"
)
def decode_mp3_imdct():
    """REAL MPEG-1 Layer III hybrid synthesis filterbank (ISO 11172-3
    2.4.3.4) — the layer between the entropy/requantization decode
    and the polyphase subband filter: entropy-decode each granule's
    quantized lines (region dispatch through table 0's silent region
    and B.7 table codes, count1 quadruples), requantize EXACTLY
    (fixture streams carry only 0/±1 levels at global_gain 210 and
    zero scalefactors, where |is|^(4/3) * 2^0 is the identity — any
    other gain/magnitude raises the declared non-unit-requantization
    boundary), then run the filterbank in EXACT integer Q12
    arithmetic: the eight B.9 alias-reduction butterflies at every
    subband boundary, the 36-point IMDCT under the
    normal/start/stop windows (block types 0/1/3), the three
    12-point IMDCTs under the short window for block type 2
    (overlapped at 6-sample stride, alias reduction skipped), MIXED
    granules (long low 2 subbands with the butterfly restricted to
    the long-long boundary, short upper), overlap-add of each
    granule's tail into the next, and frequency inversion (odd
    samples of odd subbands negated).  Every product keeps full
    precision (no rounding after the Q12 tables), so the emitted
    sums are exact integers a SQL oracle reproduces to the bit.
    Nonzero subblock_gain, the scalefactor-band -> subband reorder
    (general requantization), and the polyphase synthesis filter
    (Table B.3's 512-coefficient window) stay declared
    boundaries."""

    cos36, cos12, windows, sin12, cs, ca = _mp3_fb_tables()
    q = _MP3_FB_Q

    def granule_levels(doc_id, data, bitpos, g_fields):
        """Entropy-decode one granule to its 576 integer levels."""
        bt, _mixed, p23, bv, tsels, rc, rc2, c1a = g_fields
        take_base = bitpos
        nbits = len(data) << 3
        lutA = _mp3_c1a_lut()

        def take(n):
            # byte-level read (same values; same IndexError when a
            # consumed bit lies past the final byte)
            nonlocal bitpos
            if n == 1:
                out = (data[bitpos >> 3] >> (7 - (bitpos & 7))) & 1
                bitpos += 1
                return out
            if not n:
                return 0
            end = bitpos + n
            if (end - 1) >> 3 >= len(data):
                raise IndexError("index out of range")
            out = (
                int.from_bytes(
                    data[bitpos >> 3 : (end + 7) >> 3], "big"
                )
                >> ((-end) & 7)
            ) & ((1 << n) - 1)
            bitpos = end
            return out

        levels = [0] * 576
        if bt == 0:
            b = MP3_SFB_LONG[44100]
            if rc + 1 >= len(b) or rc + rc2 + 2 >= len(b):
                raise ValueError(
                    f"doc {doc_id}: region counts overrun Table B.8"
                )
            r0 = min(bv, b[rc + 1] // 2)
            r1 = min(bv, b[rc + rc2 + 2] // 2)
            regions = (
                (r0, tsels[0]), (r1 - r0, tsels[1]),
                (bv - r1, tsels[2]),
            )
        else:
            # window-switching granules: the IMPLIED two-region
            # split at sample 36 (2.4.2.7)
            r0 = min(bv, 18)
            regions = ((r0, tsels[0]), (bv - r0, tsels[1]))
        pos = 0
        for count, tsel in regions:
            if count <= 0:
                continue
            if tsel == 0:
                pos += 2 * count
                continue
            lut, kk, linbits = _mp3_bv_lut_sel(tsel, doc_id)
            for _ in range(count):
                # peek-LUT pair decode; bound check reproduces the
                # per-bit read's IndexError site
                e = lut[_mp3_peek(data, bitpos, kk)]
                if bitpos + (e >> 8) > nbits:
                    raise IndexError("index out of range")
                bitpos += e >> 8
                x = (e >> 4) & 15
                y = e & 15
                if x <= 1 and y <= 1:
                    # the unit-magnitude fast path: both sign
                    # bits in one read (the >1 boundary path
                    # below keeps field-at-a-time reads so its
                    # raise sits between the same reads)
                    ex = x + y
                    if ex:
                        bits = take(ex)
                        if x:
                            levels[pos] = (
                                -1 if (bits >> (ex - 1)) & 1 else 1
                            )
                        if y:
                            levels[pos + 1] = -1 if bits & 1 else 1
                    pos += 2
                    continue
                for v in (x, y):
                    if v == 15 and linbits:
                        v += take(linbits)
                    if v > 1:
                        raise NotImplementedError(
                            "non-unit quantized magnitudes (the "
                            "irrational |is|^(4/3) power) not "
                            "implemented in the exact filterbank"
                        )
                    if v:
                        levels[pos] = -v if take(1) else v
                    pos += 1
        while bitpos - take_base < p23:
            if pos + 4 > 576:
                raise ValueError(
                    f"doc {doc_id}: count1 overruns the spectrum"
                )
            if c1a:
                e = lutA[_mp3_peek(data, bitpos, 6)]
                if bitpos + (e >> 4) > nbits:
                    raise IndexError("index out of range")
                bitpos += e >> 4
                quad = e & 15
            else:
                quad = take(4) ^ 0xF
            nz = quad.bit_count()
            if nz:
                bits = take(nz)
                rem = nz
                for idx, shift in enumerate((3, 2, 1, 0)):
                    if (quad >> shift) & 1:
                        rem -= 1
                        levels[pos + idx] = (
                            -1 if (bits >> rem) & 1 else 1
                        )
            if bitpos - take_base > p23:
                raise ValueError(
                    f"doc {doc_id}: count1 overran part2_3_length"
                )
            pos += 4
        if bitpos - take_base != p23:
            raise ValueError(
                f"doc {doc_id}: part2_3_length not exactly consumed"
            )
        return levels, bitpos

    def filterbank(doc_id, granules):
        """Exact integer hybrid filterbank over the granule
        sequence; returns (sum_signed, sum_abs, n_nonzero)."""
        prev = [[0] * 36 for _ in range(32)]
        s_signed = s_abs = nnz = 0
        for bt, mixed, levels in granules:
            for sb in range(32):
                base = 18 * sb
                # mixed granules (2.4.3.4.6): subbands 0-1 run
                # the LONG path under the normal window with
                # alias reduction restricted to the long-long
                # boundary; subbands 2+ run the short path
                short_sb = bt == 2 and not (mixed and sb < 2)
                if short_sb:
                    # short blocks: NO alias reduction; three
                    # 12-point IMDCTs (window-major 6-line
                    # groups) windowed and overlapped at
                    # 6-sample stride from sample 6 (2.4.3.4.6)
                    z = [0] * 36
                    if any(levels[base : base + 18]):
                        for w_ in range(3):
                            for m in range(12):
                                y = sum(
                                    levels[base + 6 * w_ + k] * q
                                    * cos12[m][k]
                                    for k in range(6)
                                )
                                z[6 + 6 * w_ + m] += y * sin12[m]
                else:
                    win = windows[0 if bt == 2 else bt]
                    # alias-reduction butterflies feeding this
                    # subband use the RAW neighbour lines, so
                    # build the aliased 18 lines here (scale q);
                    # a mixed granule's long part only
                    # butterflies at the boundary between its
                    # two long subbands
                    long_top = 1 if bt == 2 else 31
                    xa = [levels[base + k] * q for k in range(18)]
                    if sb >= 1:
                        for i in range(8):
                            va = levels[base - 1 - i]
                            vb = levels[base + i]
                            xa[i] = vb * cs[i] + va * ca[i]
                    if sb < long_top:
                        for i in range(8):
                            va = levels[base + 17 - i]
                            vb = levels[base + 18 + i]
                            xa[17 - i] = va * cs[i] - vb * ca[i]
                    if any(xa) or any(prev[sb][18:]):
                        z = [
                            sum(
                                xa[k] * cos36[n][k]
                                for k in range(18)
                            ) * win[n]
                            for n in range(36)
                        ]
                    else:
                        z = [0] * 36
                for n in range(18):
                    v = z[n] + prev[sb][18 + n]
                    if sb % 2 and n % 2:
                        v = -v
                    s_signed += v
                    s_abs += abs(v)
                    if v:
                        nnz += 1
                prev[sb] = z
        return s_signed, s_abs, nnz

    def walk(doc_id: int, raw: bytes):
        if len(raw) < 21 or raw[0] != 0xFF or (raw[1] & 0xFE) != 0xFA:
            raise ValueError(f"doc {doc_id}: not an MPEG-1 L3 frame")
        if (raw[2] >> 2) & 0x3 != 0:
            # this walker hardcodes the 44.1 kHz Table B.8 rows;
            # silently banding a 48/32 kHz frame with them would
            # be WRONG, so reject loudly instead
            raise NotImplementedError(
                "exact requantization at non-44.1 kHz rates not "
                "implemented (Table B.8 row dispatch; the "
                "main-data walker carries all three MPEG-1 rows)"
            )
        side = raw[4:21]
        bitpos = 0

        def sbits(n):
            nonlocal bitpos
            out = 0
            for _ in range(n):
                out = (out << 1) | (
                    (side[bitpos >> 3] >> (7 - (bitpos & 7))) & 1
                )
                bitpos += 1
            return out

        if sbits(9):
            raise ValueError(
                f"doc {doc_id}: filterbank fixture uses no "
                "reservoir"
            )
        sbits(5)
        if sbits(4):
            raise ValueError(f"doc {doc_id}: scfsi must be 0")
        gfields = []
        for _g in range(2):
            p23 = sbits(12)
            bv = sbits(9)
            if sbits(8) != 210:
                raise NotImplementedError(
                    "non-unit requantization (global_gain != "
                    "210) not implemented in the exact filterbank"
                )
            if sbits(4):
                raise NotImplementedError(
                    "nonzero scalefactors not implemented in the "
                    "exact filterbank (slen 0/0 only)"
                )
            mixed = False
            if sbits(1):  # window_switching_flag
                bt = sbits(2)
                if bt == 0:
                    raise ValueError(
                        f"doc {doc_id}: window switching with "
                        "block_type 0 is forbidden"
                    )
                if sbits(1):
                    if bt != 2:
                        raise ValueError(
                            f"doc {doc_id}: mixed_block_flag on "
                            f"block_type {bt}"
                        )
                    mixed = True
                tsels = tuple(sbits(5) for _ in range(2))
                if any(sbits(3) for _ in range(3)):
                    raise NotImplementedError(
                        "nonzero subblock_gain (non-unit "
                        "requantization) not implemented in the "
                        "exact filterbank"
                    )
                rc = rc2 = 0
            else:
                bt = 0
                tsels = tuple(sbits(5) for _ in range(3))
                rc = sbits(4)
                rc2 = sbits(3)
            if sbits(1):
                raise ValueError(f"doc {doc_id}: preflag set with "
                                 "zero scalefactors")
            sbits(1)  # scalefac_scale: moot at zero scalefactors
            c1a = sbits(1) == 0
            gfields.append(
                (bt, mixed, p23, bv, tsels, rc, rc2, c1a)
            )
        granules = []
        dpos = 21 * 8
        for gf in gfields:
            levels, dpos = granule_levels(doc_id, raw, dpos, gf)
            granules.append((gf[0], gf[1], levels))
        s_signed, s_abs, nnz = filterbank(doc_id, granules)
        return len(granules), s_signed, s_abs, nnz

    return lambda doc_id, raw: [walk(doc_id, raw)]


_MP3_RQ_TABLES = None


# ISO 11172-3 Table B.6 pretab — the per-band preemphasis added to
# the scalefactor when preflag is set.  Clean-room transcription
# note: a short, widely-reproduced table; the structural invariants
# it must satisfy (bands 0-10 all zero, values bounded by 3, the
# 1,1,1,1 / 2,2 / 3,3,3 ramp peaking at bands 17-19, band 21 zero)
# hold and are asserted in tests, but like every empirical spec
# table an equal-value transposition would be undetectable — the
# table is flagged as transcribed, not derived.
MP3_PRETAB = (
    0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 2, 2, 3, 3, 3, 2, 0,
)

_MP3_IS_TABLES = None


def _mp3_is_tables() -> tuple:
    """DERIVED Q15 intensity-stereo ratios (ISO 11172-3 2.4.3.4.9.3):
    kl(n) = tan(n*pi/12) / (1 + tan(n*pi/12)) for is_pos n 0..6,
    which reduce to exact surd forms in sqrt(3) — (3-sqrt3)/6,
    (sqrt3-1)/2, 1/2 and their complements — computed here from an
    integer sqrt at 2^40 precision, with the spec's structural
    identity kl(n) + kl(6-n) = 1 enforced by constructing the upper
    half as the exact Q15 complement.  Returns (KL, KR) with
    KR[n] = 32768 - KL[n]."""
    global _MP3_IS_TABLES
    if _MP3_IS_TABLES is None:
        import math

        s = math.isqrt(3 << 80)  # floor(sqrt(3) * 2^40)
        one = 1 << 40

        def q15(num: int, den: int) -> int:
            return (32768 * num * 2 + den) // (2 * den)

        kl = [0] * 7
        kl[1] = q15(3 * one - s, 6 * one)   # (3 - sqrt3)/6
        kl[2] = q15(s - one, 2 * one)       # (sqrt3 - 1)/2
        kl[3] = 16384
        kl[4] = 32768 - kl[2]
        kl[5] = 32768 - kl[1]
        kl[6] = 32768
        kr = [32768 - v for v in kl]
        _MP3_IS_TABLES = (tuple(kl), tuple(kr))
    return _MP3_IS_TABLES


def _mp3_rq_tables():
    """Derived fixed-point requantization tables (2.4.3.4): the
    |is|^(4/3) power curve at Q12 for the FULL magnitude range
    0..8206 (15 + 2^13 - 1, the deepest linbits escape table 23 can
    transmit; round 14 — escapes requantize exactly), the
    2^((gain-210)/4) factor at Q12
    over the 198..222 exactness band, and the half-step scalefactor
    curve 2^(-k/2) at Q14 for k 0..18.  All three round identically
    in DuckDB's ROUND(POW(...)) — verified: the only arguments with
    rational results quantize exactly, and the irrational ones sit
    far from .5 ties (the wide |is|^(4/3) tier is additionally
    checked against exact integer cube-root round-half-up arithmetic
    over all 8207 indices in tests/test_multimodal.py; the closest
    tie approach is 7.1e-5 at Q12)."""
    global _MP3_RQ_TABLES
    if _MP3_RQ_TABLES is None:
        import math

        p43 = [
            int(math.floor(4096 * v ** (4 / 3) + 0.5))
            for v in range(8207)
        ]
        gain = {
            g: int(math.floor(4096 * 2 ** ((g - 210) / 4) + 0.5))
            for g in range(198, 223)
        }
        # half-step exponents reach 2*15 (full-step scalefactors) +
        # 4*7 (subblock_gain) — deep entries round to 0 identically
        # in both engines (positive values: half-up == half-away)
        sfhalf = [
            int(math.floor(16384 * 2 ** (-k / 2) + 0.5))
            for k in range(59)
        ]
        _MP3_RQ_TABLES = (p43, gain, sfhalf)
    return _MP3_RQ_TABLES


@decoder(
    "doc_id long, n_granules long, sum_rq_signed long, "
    "sum_rq_abs long, n_nonzero long, sum_pos_signed long"
)
def decode_mp3_requant():
    """REAL MPEG-1 Layer III requantization (ISO 11172-3 2.4.3.4) in
    EXACT integer arithmetic — the layer the unit-gain filterbank
    fixture bypassed: decode the slen-coded scalefactors (both
    scalefac_scale modes), entropy-decode the big-values and count1
    lines, map every line to its Table B.8 scalefactor band, and
    requantize xr = sign * |is|^(4/3) * 2^((global_gain-210)/4) *
    2^(-mult*scalefac[sfb]) with each factor a DERIVED fixed-point
    table (Q12 * Q12 * Q14, products kept at full precision), so the
    emitted sums are exact integers a SQL oracle re-derives.
    Preflag adds Table B.6's pretab to the long-band scalefactor
    exponent (the transcribed table ships with its structural
    invariants asserted; the intensity-stereo query value-tests it).
    Declared boundaries: gains outside the 198..222 band (Q12
    over/underflow).  Preflag requantizes on every layout the spec
    allows it: long blocks and start/stop window-switching granules
    (types 1/3, which use the LONG scalefactor layout); preflag on a
    SHORT-block granule rejects as the 2.4.3.4 spec violation it is
    ("preflag is never used if block_type is 2").
    Since round 14 linbits ESCAPE magnitudes (16..8206) requantize
    exactly too: the derived |is|^(4/3) Q12 table spans the full
    13-linbits range, verified tie-free against exact integer
    cube-root arithmetic and DuckDB's ROUND(POW(...))."""

    p43, gain_tab, sfhalf = _mp3_rq_tables()
    b8 = MP3_SFB_LONG[44100]
    bs = MP3_SFB_SHORT[44100]

    def walk(doc_id: int, raw: bytes):
        if len(raw) < 21 or raw[0] != 0xFF or (raw[1] & 0xFE) != 0xFA:
            raise ValueError(f"doc {doc_id}: not an MPEG-1 L3 frame")
        if (raw[2] >> 2) & 0x3 != 0:
            # this walker hardcodes the 44.1 kHz Table B.8 rows;
            # silently banding a 48/32 kHz frame with them would
            # be WRONG, so reject loudly instead
            raise NotImplementedError(
                "exact requantization at non-44.1 kHz rates not "
                "implemented (Table B.8 row dispatch; the "
                "main-data walker carries all three MPEG-1 rows)"
            )
        side = raw[4:21]
        bitpos = 0

        def sbits(n):
            nonlocal bitpos
            out = 0
            for _ in range(n):
                out = (out << 1) | (
                    (side[bitpos >> 3] >> (7 - (bitpos & 7))) & 1
                )
                bitpos += 1
            return out

        from .synth import MP3_SLEN

        if sbits(9):
            raise ValueError(f"doc {doc_id}: requant fixture uses "
                             "no reservoir")
        sbits(5)
        if sbits(4):
            raise ValueError(f"doc {doc_id}: scfsi must be 0")
        gfields = []
        for _g in range(2):
            p23 = sbits(12)
            bv = sbits(9)
            gg = sbits(8)
            if not 198 <= gg <= 222:
                raise NotImplementedError(
                    f"global_gain {gg} outside the 198..222 "
                    "exact-Q12 band"
                )
            sl1, sl2 = MP3_SLEN[sbits(4)]
            if sbits(1):  # window_switching_flag
                bt = sbits(2)
                if bt == 0:
                    raise ValueError(
                        f"doc {doc_id}: window switching with "
                        "block_type 0 is forbidden"
                    )
                if sbits(1):
                    raise NotImplementedError(
                        "mixed-block requantization (split "
                        "long/short band layouts) not implemented"
                    )
                tsels = tuple(sbits(5) for _ in range(2)) + (0,)
                ssg = tuple(sbits(3) for _ in range(3))
                rc = rc2 = 0
            else:
                bt = 0
                tsels = tuple(sbits(5) for _ in range(3))
                ssg = (0, 0, 0)
                rc = sbits(4)
                rc2 = sbits(3)
            pre = sbits(1)
            if pre and bt == 2:
                # ISO 11172-3 2.4.3.4: "preflag is never used if
                # block_type is 2" — a short-block granule with
                # preflag set is a spec violation, not a missing
                # feature (start/stop blocks, types 1/3, use the
                # LONG scalefactor layout and requantize with
                # pretab through the normal path below)
                raise ValueError(
                    f"doc {doc_id}: preflag set on a short-block "
                    "granule (illegal per 2.4.3.4)"
                )
            sfs = sbits(1)
            c1a = sbits(1) == 0
            gfields.append(
                (p23, bv, gg, sl1, sl2, tsels, rc, rc2, sfs, c1a,
                 bt, ssg, pre)
            )

        dpos = 21 * 8
        nbits = len(raw) << 3
        lutA = _mp3_c1a_lut()

        def take(n):
            # byte-level read (same values; same IndexError when a
            # consumed bit lies past the final byte)
            nonlocal dpos
            if n == 1:
                out = (raw[dpos >> 3] >> (7 - (dpos & 7))) & 1
                dpos += 1
                return out
            if not n:
                return 0
            end = dpos + n
            if (end - 1) >> 3 >= len(raw):
                raise IndexError("index out of range")
            out = (
                int.from_bytes(
                    raw[dpos >> 3 : (end + 7) >> 3], "big"
                )
                >> ((-end) & 7)
            ) & ((1 << n) - 1)
            dpos = end
            return out

        s_signed = s_abs = nnz = pos_signed = 0
        for (p23, bv, gg, sl1, sl2, tsels, rc, rc2, sfs, c1a,
             bt, ssg, pre) in gfields:
            start = dpos
            mult2 = 2 if sfs else 1  # exponent in HALF steps
            if bt == 2:
                # short layout: per-window scalefactors, bands
                # 0-5 under slen1 then 6-11 under slen2
                sfac_s = [
                    [take(sl1) for _w in range(3)]
                    for _b in range(6)
                ] + [
                    [take(sl2) for _w in range(3)]
                    for _b in range(6)
                ]

                def sf_index(pos: int) -> int:
                    if pos >= 3 * bs[12]:
                        raise NotImplementedError(
                            "the unscaled short zone's window "
                            "interleave not implemented"
                        )
                    for sfb in range(12):
                        if pos < 3 * bs[sfb + 1]:
                            width = bs[sfb + 1] - bs[sfb]
                            w_ = (pos - 3 * bs[sfb]) // width
                            return (
                                sfac_s[sfb][w_] * mult2
                                + 4 * ssg[w_]
                            )
                    raise AssertionError
            else:
                # 21 slen-coded bands in two reads, split by shift
                v1, v2 = take(11 * sl1), take(10 * sl2)
                m1, m2 = (1 << sl1) - 1, (1 << sl2) - 1
                sfac = [
                    (v1 >> ((10 - i) * sl1)) & m1 for i in range(11)
                ]
                sfac += [
                    (v2 >> ((9 - i) * sl2)) & m2 for i in range(10)
                ]

                def sf_index(pos: int) -> int:
                    # scalefactor band of a line; the zone above
                    # b8[21] carries no scalefactor (factor 1);
                    # preflag adds Table B.6's pretab
                    for sfb in range(21):
                        if pos < b8[sfb + 1]:
                            return (
                                sfac[sfb]
                                + (MP3_PRETAB[sfb] if pre else 0)
                            ) * mult2
                    return 0

            if bt == 0:
                if rc + 1 >= len(b8) or rc + rc2 + 2 >= len(b8):
                    raise ValueError(
                        f"doc {doc_id}: region counts overrun B.8"
                    )
                r0 = min(bv, b8[rc + 1] // 2)
                r1 = min(bv, b8[rc + rc2 + 2] // 2)
            else:
                # window-switching: the implied split at sample 36
                r0 = min(bv, 18)
                r1 = bv
            pos = 0
            levels: list[tuple[int, int]] = []
            for count, tsel in (
                (r0, tsels[0]), (r1 - r0, tsels[1]),
                (bv - r1, tsels[2]),
            ):
                if count <= 0:
                    continue
                if tsel == 0:
                    pos += 2 * count
                    continue
                lut, kk, linbits = _mp3_bv_lut_sel(tsel, doc_id)
                for _ in range(count):
                    e = lut[_mp3_peek(raw, dpos, kk)]
                    if dpos + (e >> 8) > nbits:
                        raise IndexError("index out of range")
                    dpos += e >> 8
                    x = (e >> 4) & 15
                    y = e & 15
                    # linbits + sign fields for both values in ONE
                    # read (2.4.2.7 order preserved; same
                    # IndexError site on truncation)
                    lx = linbits if x == 15 else 0
                    ly = linbits if y == 15 else 0
                    ex = lx + (1 if x else 0) + ly + (1 if y else 0)
                    if ex:
                        bits = take(ex)
                        rem = ex
                        if x:
                            if lx:
                                rem -= lx
                                x += (bits >> rem) & ((1 << lx) - 1)
                            rem -= 1
                            levels.append(
                                (pos, -x if (bits >> rem) & 1 else x)
                            )
                        pos += 1
                        if y:
                            if ly:
                                rem -= ly
                                y += (bits >> rem) & ((1 << ly) - 1)
                            rem -= 1
                            levels.append(
                                (pos, -y if (bits >> rem) & 1 else y)
                            )
                        pos += 1
                    else:
                        pos += 2
            while dpos - start < p23:
                if pos + 4 > 576:
                    raise ValueError(
                        f"doc {doc_id}: count1 overruns spectrum"
                    )
                if c1a:
                    e = lutA[_mp3_peek(raw, dpos, 6)]
                    if dpos + (e >> 4) > nbits:
                        raise IndexError("index out of range")
                    dpos += e >> 4
                    quad = e & 15
                else:
                    quad = take(4) ^ 0xF
                nz = quad.bit_count()
                if nz:
                    # the quad's sign bits in one read, split in
                    # v,w,x,y order (MSB-first)
                    bits = take(nz)
                    rem = nz
                    for idx, shift in enumerate((3, 2, 1, 0)):
                        if (quad >> shift) & 1:
                            rem -= 1
                            levels.append(
                                (
                                    pos + idx,
                                    -1 if (bits >> rem) & 1 else 1,
                                )
                            )
                if dpos - start > p23:
                    raise ValueError(
                        f"doc {doc_id}: count1 overran "
                        "part2_3_length"
                    )
                pos += 4
            if dpos - start != p23:
                raise ValueError(
                    f"doc {doc_id}: part2_3_length not exactly "
                    "consumed"
                )
            for pos, v in levels:
                mag = abs(v)
                if mag >= len(p43):
                    raise ValueError(
                        f"doc {doc_id}: magnitude {mag} past the "
                        "13-linbits ceiling 8206"
                    )
                k = sf_index(pos)
                if k >= len(sfhalf):
                    raise NotImplementedError(
                        f"half-step scalefactor index {k} past "
                        "the derived Q14 table"
                    )
                rq = p43[mag] * gain_tab[gg] * sfhalf[k]
                rq = -rq if v < 0 else rq
                s_signed += rq
                s_abs += abs(rq)
                nnz += 1
                pos_signed += pos if v > 0 else -pos
        return 2, s_signed, s_abs, nnz, pos_signed

    return lambda doc_id, raw: [walk(doc_id, raw)]


def _mp3_granule_long(
    doc_id: int, raw: bytes, dpos: int, fields: tuple, p43: list,
    gain_tab: dict, sf8: list, b8: tuple,
) -> tuple[list, dict, int]:
    """One stereo-fixture LONG-block granule-channel: slen-coded
    scalefactors, big-values + count1 entropy decode, and the exact
    Q12*Q12*Q8 requantization — with preflag adding Table B.6's
    pretab to the scalefactor exponent.  ``fields`` is (p23, bv, gg,
    sl1, sl2, tsels, rc, rc2, sfs, c1a, pre).  Returns (scalefactors,
    {pos: fixed-point value}, new_dpos)."""
    (p23, bv, gg, sl1, sl2, tsels, rc, rc2, sfs, c1a, pre) = fields

    def take(n: int) -> int:
        # byte-level read (same values; same IndexError when a
        # consumed bit lies past the final byte)
        nonlocal dpos
        if n == 1:
            out = (raw[dpos >> 3] >> (7 - (dpos & 7))) & 1
            dpos += 1
            return out
        if not n:
            return 0
        end = dpos + n
        if (end - 1) >> 3 >= len(raw):
            raise IndexError("index out of range")
        out = (
            int.from_bytes(raw[dpos >> 3 : (end + 7) >> 3], "big")
            >> ((-end) & 7)
        ) & ((1 << n) - 1)
        dpos = end
        return out

    start = dpos
    nbits = len(raw) << 3
    lutA = _mp3_c1a_lut()
    # 21 slen-coded bands in two reads, split by shift
    v1, v2 = take(11 * sl1), take(10 * sl2)
    m1, m2 = (1 << sl1) - 1, (1 << sl2) - 1
    sfac = [(v1 >> ((10 - i) * sl1)) & m1 for i in range(11)]
    sfac += [(v2 >> ((9 - i) * sl2)) & m2 for i in range(10)]
    mult2 = 2 if sfs else 1
    if rc + 1 >= len(b8) or rc + rc2 + 2 >= len(b8):
        raise ValueError(f"doc {doc_id}: region counts overrun B.8")
    r0 = min(bv, b8[rc + 1] // 2)
    r1 = min(bv, b8[rc + rc2 + 2] // 2)
    pos = 0
    lines: dict[int, int] = {}
    for count, tsel in (
        (r0, tsels[0]), (r1 - r0, tsels[1]), (bv - r1, tsels[2]),
    ):
        if count <= 0:
            continue
        if tsel == 0:
            pos += 2 * count
            continue
        lut, kk, linbits = _mp3_bv_lut_sel(tsel, doc_id)
        for _ in range(count):
            e = lut[_mp3_peek(raw, dpos, kk)]
            if dpos + (e >> 8) > nbits:
                raise IndexError("index out of range")
            dpos += e >> 8
            x = (e >> 4) & 15
            y = e & 15
            if x != 15 and y != 15:
                # no escape possible: both sign bits in one read
                # (the escape path below keeps its field-at-a-time
                # reads so the >=16 boundary raises between the
                # same reads as before)
                ex = (1 if x else 0) + (1 if y else 0)
                if ex:
                    bits = take(ex)
                    if x:
                        lines[pos] = (
                            -x if (bits >> (ex - 1)) & 1 else x
                        )
                    if y:
                        lines[pos + 1] = -y if bits & 1 else y
                pos += 2
                continue
            for v in (x, y):
                if v == 15 and linbits:
                    v += take(linbits)
                if v >= 16:
                    raise NotImplementedError(
                        "|is| >= 16 requantization in the STEREO "
                        "path (the downstream Q15 ratio product "
                        "would overflow the exact int64 output "
                        "contract; the mono path requantizes the "
                        "full escape range since round 14)"
                    )
                if v:
                    lines[pos] = -v if take(1) else v
                pos += 1
    while dpos - start < p23:
        if pos + 4 > 576:
            raise ValueError(
                f"doc {doc_id}: count1 overruns the spectrum"
            )
        if c1a:
            e = lutA[_mp3_peek(raw, dpos, 6)]
            if dpos + (e >> 4) > nbits:
                raise IndexError("index out of range")
            dpos += e >> 4
            quad = e & 15
        else:
            quad = take(4) ^ 0xF
        nz = quad.bit_count()
        if nz:
            bits = take(nz)
            rem = nz
            for idx, shift in enumerate((3, 2, 1, 0)):
                if (quad >> shift) & 1:
                    rem -= 1
                    lines[pos + idx] = -1 if (bits >> rem) & 1 else 1
        if dpos - start > p23:
            raise ValueError(
                f"doc {doc_id}: count1 overran part2_3_length"
            )
        pos += 4
    if dpos - start != p23:
        raise ValueError(
            f"doc {doc_id}: part2_3_length not exactly consumed"
        )
    fp: dict[int, int] = {}
    for pos_, v in lines.items():
        mag = abs(v)
        if mag > 15:
            raise NotImplementedError(
                "magnitudes above 15 (linbits escape) not implemented "
                "in the stereo granule path (int64 headroom; the mono "
                "path covers them)"
            )
        sfb = 21
        for i_ in range(21):
            if pos_ < b8[i_ + 1]:
                sfb = i_
                break
        sf = sfac[sfb] if sfb < 21 else 0
        k = (sf + (MP3_PRETAB[sfb] if pre else 0)) * mult2
        if k >= len(sf8):
            raise NotImplementedError(
                f"half-step index {k} past the Q8 table"
            )
        rq = p43[mag] * gain_tab[gg] * sf8[k]
        fp[pos_] = -rq if v < 0 else rq
    return sfac, fp, dpos


@decoder(
    "doc_id long, n_granules long, sum_left_signed long, "
    "sum_left_abs long, sum_right_signed long, "
    "sum_right_abs long, n_nonzero_lines long"
)
def decode_mp3_requant_ms():
    """MS JOINT-STEREO requantization (ISO 11172-3 2.4.3.4.9.2): a
    stereo frame's 32-byte side info (granule-major, channel-minor),
    per-channel long-block requantization exactly as the mono query
    — slen-coded scalefactors, the derived Q12/Q12/Q8 fixed-point
    factor tables — then the middle/side matrix Li = (Mi + Si)/sqrt2,
    Ri = (Mi - Si)/sqrt2 applied per spectral line with the DERIVED
    Q14 constant round(16384/sqrt2) = 11585, keeping every product a
    full-precision integer a SQL oracle reproduces to the bit.  The
    header's mode/mode_extension gate the path: intensity-stereo
    frames belong to ``decode_mp3_requant_is``; dual-channel/plain-
    stereo frames, window-switching granules, and preflag raise this
    walker's declared boundaries."""

    import math

    p43, gain_tab, _sfhalf14 = _mp3_rq_tables()
    # Q8 scalefactor curve keeps the stereo product inside int64
    sf8 = [
        int(math.floor(256 * 2 ** (-k / 2) + 0.5)) for k in range(31)
    ]
    rs = int(math.floor(16384 / math.sqrt(2) + 0.5))  # 11585
    b8 = MP3_SFB_LONG[44100]

    def walk(doc_id: int, raw: bytes):
        from .synth import MP3_SLEN

        if len(raw) < 36 or raw[0] != 0xFF or (raw[1] & 0xFE) != 0xFA:
            raise ValueError(f"doc {doc_id}: not an MPEG-1 L3 frame")
        if (raw[2] >> 2) & 0x3 != 0:
            raise NotImplementedError(
                "exact stereo requantization at non-44.1 kHz "
                "rates not implemented (Table B.8 row dispatch)"
            )
        mode = (raw[3] >> 6) & 3
        mode_ext = (raw[3] >> 4) & 3
        if mode != 1:
            raise NotImplementedError(
                "MS requantization needs a joint-stereo frame "
                f"(mode {mode})"
            )
        if mode_ext != 2:
            raise NotImplementedError(
                "intensity stereo / non-MS joint modes not "
                "implemented (mode_extension 10 only)"
            )
        side = raw[4:36]
        bitpos = 0

        def sbits(n):
            nonlocal bitpos
            out = 0
            for _ in range(n):
                out = (out << 1) | (
                    (side[bitpos >> 3] >> (7 - (bitpos & 7))) & 1
                )
                bitpos += 1
            return out

        if sbits(9):
            raise ValueError(
                f"doc {doc_id}: MS fixture uses no reservoir"
            )
        sbits(3)
        if sbits(8):
            raise ValueError(f"doc {doc_id}: scfsi must be 0")
        gfields = []
        for _gch in range(4):
            p23 = sbits(12)
            bv = sbits(9)
            gg = sbits(8)
            if not 198 <= gg <= 222:
                raise NotImplementedError(
                    f"global_gain {gg} outside the 198..222 "
                    "exact-Q12 band"
                )
            sl1, sl2 = MP3_SLEN[sbits(4)]
            if sbits(1):
                raise NotImplementedError(
                    "MS requantization for window-switching "
                    "granules not implemented"
                )
            tsels = tuple(sbits(5) for _ in range(3))
            rc = sbits(4)
            rc2 = sbits(3)
            if sbits(1):
                raise NotImplementedError(
                    "preflag requantization not implemented"
                )
            sfs = sbits(1)
            c1a = sbits(1) == 0
            gfields.append(
                (p23, bv, gg, sl1, sl2, tsels, rc, rc2, sfs, c1a)
            )

        dpos = 36 * 8
        sum_l = abs_l = sum_r = abs_r = nnz = 0
        for g in (0, 1):
            spectra = []
            for ch in (0, 1):
                fields = gfields[2 * g + ch] + (0,)  # preflag 0
                _sfac, fp, dpos = _mp3_granule_long(
                    doc_id, raw, dpos, fields, p43, gain_tab,
                    sf8, b8,
                )
                spectra.append(fp)
            mid, sid = spectra
            for pos_ in set(mid) | set(sid):
                m = mid.get(pos_, 0)
                s_ = sid.get(pos_, 0)
                left = (m + s_) * rs
                right = (m - s_) * rs
                sum_l += left
                abs_l += abs(left)
                sum_r += right
                abs_r += abs(right)
                nnz += 1
        return 2, sum_l, abs_l, sum_r, abs_r, nnz

    return lambda doc_id, raw: [walk(doc_id, raw)]


@decoder(
    "doc_id long, n_granules long, sum_left_signed long, "
    "sum_left_abs long, sum_right_signed long, "
    "sum_right_abs long, n_is_lines long, n_off_lines long"
)
def decode_mp3_requant_is():
    """INTENSITY-STEREO requantization (ISO 11172-3 2.4.3.4.9.3) —
    the last stereo mode (header mode 01, mode_extension 01): the
    left channel requantizes normally (INCLUDING preflag — Table
    B.6's pretab added to the scalefactor exponent); the right
    channel carries NO spectral data, its scalefactors instead
    coding per-band intensity positions is_pos.  The intensity
    region starts at the first scalefactor band past the right
    channel's last nonzero line (the whole spectrum here); within
    it L = xr * kl(is_pos), R = xr * (1 - kl(is_pos)) with
    kl = tan(n*pi/12)/(1+tan(n*pi/12)) in the DERIVED exact-surd Q15
    table (kl(n) + kl(6-n) = 1 enforced structurally); is_pos 7
    switches intensity OFF for the band (left as-is, right silent).
    Every product stays a full-precision integer the SQL oracle
    re-derives.  Declared boundaries: intensity into scalefactor
    band 21 (no is_pos field exists for it), window-switching
    granules, MS+intensity combined (mode_extension 11), gains
    outside the exact-Q12 band."""

    import math

    p43, gain_tab, _sfhalf14 = _mp3_rq_tables()
    sf8 = [
        int(math.floor(256 * 2 ** (-k / 2) + 0.5)) for k in range(41)
    ]
    kl_tab, kr_tab = _mp3_is_tables()
    b8 = MP3_SFB_LONG[44100]

    def walk(doc_id: int, raw: bytes):
        from .synth import MP3_SLEN

        if len(raw) < 36 or raw[0] != 0xFF or (raw[1] & 0xFE) != 0xFA:
            raise ValueError(f"doc {doc_id}: not an MPEG-1 L3 frame")
        if (raw[2] >> 2) & 0x3 != 0:
            raise NotImplementedError(
                "exact stereo requantization at non-44.1 kHz "
                "rates not implemented (Table B.8 row dispatch)"
            )
        mode = (raw[3] >> 6) & 3
        mode_ext = (raw[3] >> 4) & 3
        if mode != 1:
            raise NotImplementedError(
                "intensity requantization needs a joint-stereo "
                f"frame (mode {mode})"
            )
        if mode_ext != 1:
            raise NotImplementedError(
                "MS / combined joint modes belong to the MS "
                "walker (mode_extension 01 only here)"
            )
        side = raw[4:36]
        bitpos = 0

        def sbits(n):
            nonlocal bitpos
            out = 0
            for _ in range(n):
                out = (out << 1) | (
                    (side[bitpos >> 3] >> (7 - (bitpos & 7))) & 1
                )
                bitpos += 1
            return out

        if sbits(9):
            raise ValueError(
                f"doc {doc_id}: intensity fixture uses no reservoir"
            )
        sbits(3)
        if sbits(8):
            raise ValueError(f"doc {doc_id}: scfsi must be 0")
        gfields = []
        for _gch in range(4):
            p23 = sbits(12)
            bv = sbits(9)
            gg = sbits(8)
            if not 198 <= gg <= 222:
                raise NotImplementedError(
                    f"global_gain {gg} outside the 198..222 "
                    "exact-Q12 band"
                )
            sl1, sl2 = MP3_SLEN[sbits(4)]
            if sbits(1):
                raise NotImplementedError(
                    "intensity requantization for window-"
                    "switching granules not implemented"
                )
            tsels = tuple(sbits(5) for _ in range(3))
            rc = sbits(4)
            rc2 = sbits(3)
            pre = sbits(1)
            sfs = sbits(1)
            c1a = sbits(1) == 0
            gfields.append(
                (p23, bv, gg, sl1, sl2, tsels, rc, rc2, sfs, c1a,
                 pre)
            )

        dpos = 36 * 8
        sum_l = abs_l = sum_r = abs_r = 0
        n_is = n_off = 0
        for g in (0, 1):
            _sfl, fp_l, dpos = _mp3_granule_long(
                doc_id, raw, dpos, gfields[2 * g], p43, gain_tab,
                sf8, b8,
            )
            sfr, fp_r, dpos = _mp3_granule_long(
                doc_id, raw, dpos, gfields[2 * g + 1], p43,
                gain_tab, sf8, b8,
            )
            # intensity bound: the first scalefactor band past
            # the right channel's last nonzero line
            last = max(fp_r) + 1 if fp_r else 0
            bound = 0
            while bound < 22 and b8[bound] < last:
                bound += 1
            for pos_, v in fp_l.items():
                sfb = 21
                for i_ in range(21):
                    if pos_ < b8[i_ + 1]:
                        sfb = i_
                        break
                if sfb < bound:  # both channels coded normally
                    left = v << 15
                    right = fp_r.get(pos_, 0) << 15
                else:
                    if sfb >= 21:
                        raise NotImplementedError(
                            "intensity into scalefactor band 21 "
                            "(no is_pos field) not implemented"
                        )
                    is_pos = sfr[sfb]
                    if is_pos > 7:
                        raise ValueError(
                            f"doc {doc_id}: is_pos {is_pos} past "
                            "the MPEG-1 maximum 7"
                        )
                    if is_pos == 7:  # intensity off: left only
                        left = v << 15
                        right = 0
                        n_off += 1
                    else:
                        left = v * kl_tab[is_pos]
                        right = v * kr_tab[is_pos]
                        n_is += 1
                sum_l += left
                abs_l += abs(left)
                sum_r += right
                abs_r += abs(right)
            for pos_, v in fp_r.items():
                if pos_ in fp_l:
                    continue  # handled above
                # right-only lines sit below the intensity bound
                # by construction of the bound
                right = v << 15
                sum_r += right
                abs_r += abs(right)
        return 2, sum_l, abs_l, sum_r, abs_r, n_is, n_off

    return lambda doc_id, raw: [walk(doc_id, raw)]


def parse_id3v2(
    doc_id: int, raw: bytes
) -> tuple[int, int, int, int, int, int, int, int, int]:
    """Extract ID3v2 metadata (the id3v2.3.0 / id3v2.4.0 informal
    standards) to (version, n_text_frames, n_skipped_frames,
    title_chars, artist_chars, album_chars, track, year,
    audio_bytes): the syncsafe tag size, per-frame headers whose SIZE
    field is plain big-endian under v2.3 but SYNCSAFE under v2.4
    (the classic reader bug), text-frame decoding under Latin-1,
    UTF-16 with its BOM, and (v2.4) UTF-8, TRCK 'n/total' splitting,
    the version-appropriate year frame (TYER vs TDRC), unknown
    frames skipped by size, zero-padding terminating the frame walk,
    and the audio payload located exactly past the declared tag
    size.  Unsynchronisation, extended headers, footers, compressed
    or encrypted frames raise declared boundaries."""
    if raw[:3] != b"ID3":
        raise ValueError(f"doc {doc_id}: missing ID3v2 header")
    ver = raw[3]
    if ver not in (3, 4):
        raise NotImplementedError(
            f"ID3v2.{ver} tags not implemented (2.3/2.4 only)"
        )
    flags = raw[5]
    if flags & 0x80:
        raise NotImplementedError(
            "ID3v2 unsynchronisation not implemented"
        )
    if flags & 0x40:
        raise NotImplementedError(
            "ID3v2 extended headers not implemented"
        )
    if flags & 0x10:
        raise NotImplementedError("ID3v2 footers not implemented")
    if flags & 0x2F:
        raise ValueError(f"doc {doc_id}: reserved ID3v2 flags set")
    if any(b & 0x80 for b in raw[6:10]):
        raise ValueError(f"doc {doc_id}: tag size is not syncsafe")
    tag_size = (
        (raw[6] << 21) | (raw[7] << 14) | (raw[8] << 7) | raw[9]
    )
    end = 10 + tag_size
    if end > len(raw):
        raise ValueError(f"doc {doc_id}: tag size overruns the file")
    pos = 10
    n_text = n_skip = 0
    title_chars = artist_chars = album_chars = track = year = -1
    while pos < end:
        if raw[pos] == 0:  # padding
            if any(raw[pos:end]):
                raise ValueError(
                    f"doc {doc_id}: nonzero bytes inside the padding"
                )
            break
        fid = raw[pos : pos + 4]
        if ver == 4:
            if any(b & 0x80 for b in raw[pos + 4 : pos + 8]):
                raise ValueError(
                    f"doc {doc_id}: v2.4 frame size is not syncsafe"
                )
            fsize = (
                (raw[pos + 4] << 21) | (raw[pos + 5] << 14)
                | (raw[pos + 6] << 7) | raw[pos + 7]
            )
        else:
            fsize = int.from_bytes(raw[pos + 4 : pos + 8], "big")
        fflags = int.from_bytes(raw[pos + 8 : pos + 10], "big")
        if fflags & 0x00FF:
            raise NotImplementedError(
                "compressed/encrypted/grouped ID3 frames not "
                "implemented"
            )
        body = raw[pos + 10 : pos + 10 + fsize]
        if len(body) != fsize:
            raise ValueError(
                f"doc {doc_id}: frame {fid!r} overruns the tag"
            )
        pos += 10 + fsize
        if fid[:1] == b"T":
            if fsize < 1:
                raise ValueError(
                    f"doc {doc_id}: text frame {fid!r} too short for "
                    "its encoding byte"
                )
            enc = body[0]
            data = body[1:]
            if enc == 0:
                text = data.decode("latin-1")
            elif enc == 1:
                if data[:2] not in (b"\xff\xfe", b"\xfe\xff"):
                    raise ValueError(
                        f"doc {doc_id}: UTF-16 text without a BOM"
                    )
                text = data.decode("utf-16")
            elif enc == 3 and ver == 4:
                text = data.decode("utf-8")
            else:
                raise ValueError(
                    f"doc {doc_id}: text encoding {enc} invalid for "
                    f"ID3v2.{ver}"
                )
            text = text.rstrip("\x00")
            n_text += 1
            if fid == b"TIT2":
                title_chars = len(text)
            elif fid == b"TPE1":
                artist_chars = len(text)
            elif fid == b"TALB":
                album_chars = len(text)
            elif fid == b"TRCK":
                head = text.split("/")[0]
                if not head.isdigit():
                    raise ValueError(
                        f"doc {doc_id}: non-numeric TRCK {text!r}"
                    )
                track = int(head)
            elif fid in (b"TYER", b"TDRC"):
                if (fid == b"TYER") != (ver == 3):
                    raise ValueError(
                        f"doc {doc_id}: {fid!r} in an ID3v2.{ver} tag"
                    )
                if not text[:4].isdigit():
                    raise ValueError(
                        f"doc {doc_id}: non-numeric year frame "
                        f"{text!r}"
                    )
                year = int(text[:4])
        else:
            n_skip += 1
    return (
        ver, n_text, n_skip, title_chars, artist_chars, album_chars,
        track, year, len(raw) - end,
    )


def parse_id3v1(
    doc_id: int, raw: bytes
) -> tuple[int, int, int, int, int, int, int]:
    """Extract the trailing 128-byte ID3v1 tag (the informal id3v1.1
    standard) to (title_chars, artist_chars, album_chars, year,
    track, genre, is_v11): the 'TAG' magic at EOF-128, NUL-padded
    30-byte text fields, the 4-digit year, and the v1.1 comment
    split (comment[28] + NUL + track byte) — a zero byte at comment
    offset 28 with a nonzero track marks v1.1, else the whole 30
    bytes are comment and no track exists.  Missing magic or a
    non-numeric year raise."""
    if len(raw) < 128:
        raise ValueError(f"doc {doc_id}: file shorter than an ID3v1 tag")
    tag = raw[-128:]
    if tag[:3] != b"TAG":
        raise ValueError(f"doc {doc_id}: no ID3v1 trailer")

    def text(at: int, n: int) -> str:
        return tag[at : at + n].split(b"\x00")[0].decode("latin-1")

    title = text(3, 30)
    artist = text(33, 30)
    album = text(63, 30)
    year_s = tag[93:97].decode("latin-1")
    if not year_s.isdigit():
        raise ValueError(
            f"doc {doc_id}: non-numeric ID3v1 year {year_s!r}"
        )
    is_v11 = tag[125] == 0 and tag[126] != 0
    track = tag[126] if is_v11 else 0
    genre = tag[127]
    return (
        len(title), len(artist), len(album), int(year_s), track,
        genre, 1 if is_v11 else 0,
    )


ID3V1_SCHEMA = (
    "doc_id long, v1_title_chars long, v1_artist_chars long, "
    "v1_album_chars long, v1_year long, v1_track long, genre long, "
    "is_v11 long, matches_v2 boolean"
)


@decoder(ID3V1_SCHEMA)
def decode_mp3_id3v1():
    """Double-tag reconciliation: parse BOTH the leading ID3v2 tag
    (``parse_id3v2``) and the trailing ID3v1.1 tag (``parse_id3v1``)
    of each file and cross-check the shared fields — the consistency
    pass an audio-metadata pipeline runs on legacy collections where
    the two tags routinely disagree (here they must agree, and the
    emitted flag proves both parsers ran)."""

    def walk(doc_id: int, raw: bytes):
        (tc, ac, alc, year, track, genre, is_v11) = parse_id3v1(
            doc_id, raw
        )
        # the v2 parser must not see the trailer as audio
        (_ver, _nt, _ns, v2_tc, v2_ac, v2_alc, v2_track, v2_year,
         _audio) = parse_id3v2(doc_id, raw[:-128])
        matches = (
            tc == v2_tc and ac == v2_ac and alc == v2_alc
            and track == v2_track and year == v2_year
        )
        return (tc, ac, alc, year, track, genre, is_v11, matches)

    return lambda doc_id, raw: [walk(doc_id, raw)]


@decoder(
    "doc_id long, version long, n_text_frames long, "
    "n_skipped_frames long, title_chars long, artist_chars long, "
    "album_chars long, track long, year long, audio_bytes long"
)
def decode_mp3_id3():
    """Distributed ID3v2 tag extraction (``parse_id3v2``) as an
    Arrow kernel over binary rows."""
    return lambda doc_id, raw: [parse_id3v2(doc_id, raw)]

