"""Bit-stream I/O and CRC tables shared by the media codecs
(``decode.py``, ``synth.py``) and the ingest containers
(``ingest/zstd.py``, ``ingest/tfrecord.py``).

Five classes cover every bit layout the formats use:

- ``MsbReader`` / ``MsbWriter``: MSB-first within each byte (JPEG
  entropy data, H.264 RBSP, FLAC frames, MPEG audio side info and main
  data, and the zstd backward stream's writer side);
- ``LsbReader`` / ``LsbWriter``: LSB-first (VP8L, zstd FSE table
  descriptions);
- ``BackReader``: RFC 8878's backward bitstream (zstd literals and
  sequences), written by ``MsbWriter`` and ``backward_bytes``.

Readers raise ``ValueError`` with the messages the caller hands in —
``eof`` when a read would pass the end of the data, ``bad`` when the
bits hold no valid code — so each format keeps its own error text.

The prefix-code layer serves every Huffman and VLC table:
``canonical_codes`` builds canonical codes from (symbol, length)
pairs (JPEG, VP8L, zstd literals), ``peek_lut`` turns any
``{(length, code): entry}`` table into a list indexed by a k-bit peek
(those three plus H.264 CAVLC and MP3), and each reader has one
``read_symbol``: a zero-padded peek plus one index.  A code longer
than the bits left raises ``eof``; bits no code matches raise ``eof``
when fewer than 16 bits are left and ``bad`` otherwise, as a
bit-at-a-time walk of up to 16 bits would.
"""

from __future__ import annotations

from functools import lru_cache
from operator import itemgetter


class MsbReader:
    """MSB-first reader at an absolute bit position ``pos`` over
    ``data`` (``limit`` = 8 * len(data)), starting at ``byte_offset``.

    Callers may read and move ``pos`` themselves: the CAVLC residual
    decoder reads ``data`` from ``pos`` through its own integer window,
    FLAC's 16-bit PCM path unpacks whole samples from ``data``, and the
    H.264 and JPEG alignment checks test ``pos % 8``.  ``bad`` is the
    message for an exp-Golomb prefix past 31 zeros (``ue``), a Huffman
    code no table entry matches (``read_symbol``) and nonzero alignment
    padding (``align``)."""

    __slots__ = ("data", "pos", "limit", "eof", "bad")

    def __init__(
        self, data: bytes, eof: str, bad: str = "", byte_offset: int = 0
    ) -> None:
        self.data = data
        self.pos = 8 * byte_offset
        self.limit = 8 * len(data)
        self.eof = eof
        self.bad = bad

    def u(self, n: int) -> int:
        # byte-level extraction (one slice + int.from_bytes) instead of
        # a per-bit loop
        pos = self.pos
        end = pos + n
        if end > self.limit:
            raise ValueError(self.eof)
        self.pos = end
        data = self.data
        if n == 1:
            return (data[pos >> 3] >> (7 - (pos & 7))) & 1
        val = int.from_bytes(data[pos >> 3 : (end + 7) >> 3], "big")
        return (val >> ((-end) & 7)) & ((1 << n) - 1)

    def u_many(self, n: int, count: int) -> list:
        """``count`` consecutive n-bit fields in one slice +
        int.from_bytes (bit-identical to ``count`` calls of ``u(n)``)."""
        total = n * count
        pos = self.pos
        end = pos + total
        if end > self.limit:
            raise ValueError(self.eof)
        first = pos >> 3
        last = (end + 7) >> 3
        big = int.from_bytes(self.data[first:last], "big") >> (
            last * 8 - end
        )
        self.pos = end
        mask = (1 << n) - 1
        return [
            (big >> sh) & mask
            for sh in range(total - n, -1, -n)
        ] if n else [0] * count

    def ue(self) -> int:
        """Exp-Golomb (ITU-T H.264 9.1): inlined leading-zero scan +
        suffix read."""
        data = self.data
        pos = self.pos
        limit = self.limit
        zeros = 0
        while True:
            if pos >= limit:
                self.pos = pos
                raise ValueError(self.eof)
            bit = (data[pos >> 3] >> (7 - (pos & 7))) & 1
            pos += 1
            if bit:
                break
            zeros += 1
            if zeros > 31:
                self.pos = pos
                raise ValueError(self.bad)
        if not zeros:
            self.pos = pos
            return 0
        end = pos + zeros
        if end > limit:
            self.pos = pos
            raise ValueError(self.eof)
        self.pos = end
        val = int.from_bytes(data[pos >> 3 : (end + 7) >> 3], "big")
        return (1 << zeros) - 1 + (
            (val >> ((-end) & 7)) & ((1 << zeros) - 1)
        )

    def se(self) -> int:
        k = self.ue()
        return (k + 1) // 2 if k % 2 else -(k // 2)

    def unary(self) -> int:
        """Count of 0 bits before the next 1 (the 1 is consumed); scans
        whole bytes instead of a per-bit loop."""
        data = self.data
        pos = self.pos
        limit = self.limit
        q = 0
        while True:
            if pos >= limit:
                raise ValueError(self.eof)
            rem = 8 - (pos & 7)
            chunk = data[pos >> 3] & ((1 << rem) - 1)
            if chunk:
                lead = rem - chunk.bit_length()
                self.pos = pos + lead + 1
                return q + lead
            q += rem
            pos += rem

    def align(self) -> int:
        """Zero-check and skip padding to the next byte edge; return
        the byte offset there."""
        pad = -self.pos % 8
        if pad and self.u(pad) != 0:
            raise ValueError(self.bad)
        return self.pos >> 3

    def read_symbol(self, table: tuple) -> int:
        """One symbol of a prefix code in ``symbol_lut`` form: a
        zero-padded peek of the table's k bits (at most 16, so three
        bytes hold them), one index."""
        slots, k = table
        pos = self.pos
        i = pos >> 3
        chunk = self.data[i : i + 3]
        val = int.from_bytes(chunk, "big")
        if len(chunk) < 3:
            val <<= (3 - len(chunk)) << 3
        try:
            length, sym = slots[
                (val >> (24 - (pos & 7) - k)) & ((1 << k) - 1)
            ]
        except TypeError:  # an unused slot
            raise ValueError(
                self.eof if self.limit - pos < 16 else self.bad
            ) from None
        pos += length
        if pos > self.limit:
            raise ValueError(self.eof)
        self.pos = pos
        return sym


class LsbReader:
    """Forward LSB-first reader at an absolute bit position ``pos``
    over ``data``, starting at ``byte_offset``.  Huffman codes sit
    MSB-of-code-first in the stream (``LsbWriter.put_code``).

    Reads go through a whole-byte accumulator (``acc`` holds the next
    ``nacc`` unconsumed bits LSB-aligned; ``pos + nacc`` is always
    byte-aligned) instead of a per-bit loop.  ``bad`` is the message
    for a Huffman code no table entry matches, with ``{}`` standing for
    the code's name."""

    __slots__ = ("data", "pos", "limit", "acc", "nacc", "eof", "bad")

    def __init__(
        self, data: bytes, eof: str, bad: str = "", byte_offset: int = 0
    ) -> None:
        self.data = data
        self.pos = 8 * byte_offset
        self.limit = 8 * len(data)
        self.acc = 0
        self.nacc = 0
        self.eof = eof
        self.bad = bad

    def read(self, n: int) -> int:
        pos = self.pos
        if pos + n > self.limit:
            raise ValueError(self.eof)
        acc = self.acc
        nacc = self.nacc
        while nacc < n:
            acc |= self.data[(pos + nacc) >> 3] << nacc
            nacc += 8
        self.acc = acc >> n
        self.nacc = nacc - n
        self.pos = pos + n
        return acc & ((1 << n) - 1)

    def read_symbol(self, table, what: str) -> int:
        """One symbol of a prefix code in ``symbol_lut`` form, or an
        int ``table``: a one-symbol code that takes zero bits.  The
        accumulator holds the zero-padded peek; its k bits index the
        table through the k-bit reversal (codes run MSB-of-code
        first)."""
        if isinstance(table, int):
            return table
        slots, k = table
        acc = self.acc
        nacc = self.nacc
        if nacc < k:
            # load whole bytes up to k bits; past the end the bits
            # above nacc stay zero (the padded peek)
            data = self.data
            at = self.pos + nacc
            while nacc < k and at < self.limit:
                acc |= data[at >> 3] << nacc
                nacc += 8
                at += 8
        try:
            length, sym = slots[_BIT_REVERSAL[k][acc & ((1 << k) - 1)]]
        except TypeError:  # an unused slot
            raise ValueError(
                self.eof if self.limit - self.pos < 16
                else self.bad.format(what)
            ) from None
        if length > nacc:  # acc holds every bit left
            raise ValueError(self.eof)
        self.acc = acc >> length
        self.nacc = nacc - length
        self.pos += length
        return sym

    def align(self) -> int:
        """Skip to the next byte edge; return the byte offset there."""
        skip = -self.pos & 7
        self.acc >>= skip
        self.nacc -= skip
        self.pos += skip
        return self.pos >> 3


class BackReader:
    """RFC 8878 backward bitstream: the encoder pads the LAST byte
    with a 1-sentinel above the payload bits; the decoder consumes
    from just below the sentinel toward byte 0."""

    def __init__(self, doc_id: int, buf: bytes):
        if not buf or buf[-1] == 0:
            raise ValueError(
                f"doc {doc_id}: backward bitstream missing its sentinel"
            )
        self.acc = int.from_bytes(buf, "little")
        self.bits_left = self.acc.bit_length() - 1
        self.doc_id = doc_id

    def read(self, n: int) -> int:
        if n == 0:
            return 0
        if n > self.bits_left:
            raise ValueError(
                f"doc {self.doc_id}: backward bitstream exhausted"
            )
        self.bits_left -= n
        return (self.acc >> self.bits_left) & ((1 << n) - 1)

    def peek_padded(self, n: int) -> int:
        """The next up-to-n bits left-aligned into an n-bit value,
        zero-padded past the stream end (the spec's end-of-stream
        Huffman peek semantics)."""
        have = min(n, self.bits_left)
        v = (self.acc >> (self.bits_left - have)) & ((1 << have) - 1)
        return v << (n - have)


class MsbWriter:
    """MSB-first bit packer (the H.264 RBSP, JPEG scan, FLAC, MPEG-1
    Layer III and zstd backward-stream writers).

    Bits accumulate MSB-first in one integer (``acc``, ``nbits`` valid
    bits).  Once the accumulator passes 4096 bits AND sits on a byte
    boundary it is flushed to ``_done``, which keeps ``u()`` O(1)
    amortized instead of growing one bigint over the whole stream.
    ``align()`` pads with zero bits to the next byte boundary of the
    total stream."""

    def __init__(self) -> None:
        self.acc = 0
        self.nbits = 0
        self._done = bytearray()

    def u(self, value: int, n: int) -> None:
        """The low n bits of ``value``, MSB-first."""
        nbits = self.nbits + n
        self.acc = (self.acc << n) | (value & ((1 << n) - 1))
        if nbits >= 4096 and not (nbits & 7):
            self._done += self.acc.to_bytes(nbits >> 3, "big")
            self.acc = 0
            nbits = 0
        self.nbits = nbits

    def repeat(self, value: int, n: int, k: int) -> None:
        """``k`` copies of the low n bits of ``value``, in one write."""
        if n and k:
            ones = ((1 << n * k) - 1) // ((1 << n) - 1)  # bit 0 of each copy
            self.u((value & ((1 << n) - 1)) * ones, n * k)

    def ue(self, value: int) -> None:
        # Exp-Golomb: M leading zeros, 1, then M-bit suffix of value+1
        code = value + 1
        m = code.bit_length() - 1
        self.u(code, 2 * m + 1)  # M zeros + the (M+1)-bit code itself

    def se(self, value: int) -> None:
        # signed Exp-Golomb (H.264 9.1.1): k>0 -> 2k-1, k<=0 -> -2k
        self.ue(2 * value - 1 if value > 0 else -2 * value)

    def tell(self) -> int:
        """Bits written so far."""
        return len(self._done) * 8 + self.nbits

    def align(self) -> None:
        rem = self.tell() & 7
        if rem:
            self.u(0, 8 - rem)

    def to_bytes(self) -> bytes:
        assert self.tell() % 8 == 0, "bitstream not byte-aligned"
        return bytes(self._done) + self.acc.to_bytes(self.nbits // 8, "big")

    def rbsp_trailing(self) -> bytes:
        """H.264 rbsp_trailing_bits: the stop bit, zero-align, bytes."""
        self.u(1, 1)
        self.align()
        return self.to_bytes()


def stuffed_bytes(w: MsbWriter) -> bytes:
    """A JPEG entropy-coded segment from ``w``: 1-padded to the byte
    edge (ISO/IEC 10918-1 F.1.2.3), then a 0x00 stuffed after every
    0xFF so the data cannot alias a marker."""
    pad = -w.tell() % 8
    w.u((1 << pad) - 1, pad)
    return w.to_bytes().replace(b"\xff", b"\xff\x00")


def backward_bytes(w: MsbWriter) -> bytes:
    """RFC 8878 backward bitstream from fields written to ``w`` in
    decode order: a 1 sentinel above them, the whole stream read as one
    integer and stored little-endian (the inverse of ``BackReader``)."""
    n = w.tell()
    pad = -n % 8
    w.align()
    fields = int.from_bytes(w.to_bytes(), "big") >> pad
    return ((1 << n) | fields).to_bytes(n // 8 + 1, "little")


class LsbWriter:
    """Forward LSB-first bit writer (VP8L, zstd FSE table
    descriptions)."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.cur = 0
        self.nbits = 0

    def put(self, value: int, n: int) -> None:
        # the low n bits of value, bit j landing at stream position
        # nbits + j
        cur = self.cur | ((value & ((1 << n) - 1)) << self.nbits)
        nbits = self.nbits + n
        out = self.out
        while nbits >= 8:
            out.append(cur & 0xFF)
            cur >>= 8
            nbits -= 8
        self.cur = cur
        self.nbits = nbits

    def put_code(self, code: int, n: int) -> None:
        """Huffman codes go MSB-first (tree-walk order) into the
        LSB-first stream."""
        self.put(_BIT_REVERSAL[n][code], n)

    def to_bytes(self) -> bytes:
        if self.nbits:
            self.out.append(self.cur)
            self.cur = 0
            self.nbits = 0
        return bytes(self.out)


def canonical_codes(pairs) -> dict:
    """Canonical prefix codes for ``(symbol, length)`` pairs taken in
    the caller's order, as ``{(length, code): symbol}``.  The first
    code is 0; each next one is the previous plus one, shifted by the
    length step: left when lengths grow (JPEG's BITS/HUFFVAL order;
    VP8L's (length, symbol) order, RFC 9649 after RFC 1951 §3.2.2),
    right when they shrink (zstd's ascending-weight order, RFC 8878
    §4.2.1).  A code that overflows its length (more codes of a length
    than it has bit strings) is kept, but no bit string reaches it."""
    codes = {}
    code = 0
    prev = None
    for sym, length in pairs:
        if length == prev:
            code += 1
        elif prev is not None:
            step = length - prev
            code = (code + 1) << step if step > 0 else (code + 1) >> -step
        codes[length, code] = sym
        prev = length
    return codes


def by_length(lengths: dict) -> tuple:
    """A ``{symbol: length}`` map as the (symbol, length) pairs of the
    canonical order DEFLATE defines and VP8L keeps (RFC 1951 §3.2.2):
    by length, then by symbol."""
    return tuple(sorted(sorted(lengths.items()), key=itemgetter(1)))


def peek_lut(codes: dict) -> tuple[list, int]:
    """``{(length, code): entry}`` as a peek table ``(slots, k)``, k the
    longest length: slot i holds the entry of the one code that
    prefixes i's k bits (MSB-first), so a k-bit window resolves a code
    in one list index instead of a per-bit walk.  Slots no code
    reaches hold None (a complete code, Kraft sum exactly 1, has
    none).

    Each caller packs its own entry: the readers' ``read_symbol``
    takes ``(length, symbol)`` (``symbol_lut``); CAVLC takes
    ``(length, *values)``, its level codes an 8-bit window of
    ``(length, level, next suffixLength)`` whose longer codes miss and
    decode through level_prefix; MP3's big-values tables pack
    ``(length << 8) | (x << 4) | y`` and count1 table A ``(length <<
    4) | quad``; zstd's literals take the bare symbol.  The fixed
    tables are built once per process and kept by worker reuse."""
    k = max(codes)[0] if codes else 0
    slots: list = [None] * (1 << k)
    for (length, code), entry in codes.items():
        if code >> length:
            continue  # overflowed its length: unreachable
        if length == k:
            slots[code] = entry
        else:
            span = 1 << (k - length)
            slots[code * span : (code + 1) * span] = [entry] * span
    return slots, k


# The same code recurs across documents (JPEG's Annex K tables, VP8L's
# flat trees), so both views are kept per process for the last few
# (symbol, length) tuples; callers only read them.
@lru_cache(maxsize=32)
def symbol_lut(pairs: tuple) -> tuple[list, int]:
    """The table ``MsbReader.read_symbol`` and ``LsbReader.read_symbol``
    take: ``peek_lut`` over ``canonical_codes(pairs)`` with ``(length,
    symbol)`` entries."""
    return peek_lut({
        key: (key[0], sym) for key, sym in canonical_codes(pairs).items()
    })


@lru_cache(maxsize=32)
def code_book(pairs: tuple) -> dict:
    """The encoder side: symbol -> (code, length) of
    ``canonical_codes(pairs)``."""
    return {
        sym: (code, length)
        for (length, code), sym in canonical_codes(pairs).items()
    }


class _BitReversal(dict):
    """k -> the list of every k-bit value bit-reversed, built on first
    use: MSB-first codes in LSB-first streams (``LsbReader.read_symbol``,
    ``LsbWriter.put_code``)."""

    def __missing__(self, k: int) -> list:
        rev = [0] * (1 << k)
        for i in range(1, 1 << k):
            rev[i] = (rev[i >> 1] >> 1) | ((i & 1) << (k - 1))
        self[k] = rev
        return rev


_BIT_REVERSAL = _BitReversal()


def crc_table(poly: int, width: int, reflect: bool = False) -> tuple:
    """256-entry table for a table-driven CRC of the given width:
    left-shifting (MSB-first) by default; with ``reflect``, the
    right-shifting form, where ``poly`` is the bit-reversed
    polynomial (CRC-32C's 0x82F63B78)."""
    top = 1 << (width - 1)
    mask = (1 << width) - 1
    table = []
    for byte in range(256):
        if reflect:
            crc = byte
            for _ in range(8):
                crc = (crc >> 1) ^ poly if crc & 1 else crc >> 1
        else:
            crc = byte << (width - 8)
            for _ in range(8):
                crc = ((crc << 1) ^ poly) & mask if crc & top else (crc << 1) & mask
        table.append(crc)
    return tuple(table)
