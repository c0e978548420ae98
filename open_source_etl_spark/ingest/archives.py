"""Archive-container plumbing: ZIP, ustar TAR, and multi-member gzip
JSONL — the formats dataset dumps most often arrive in, as distributed
extraction kernels — the archive siblings of ``ingest/warc.py`` (same
``@decoder`` shape on the codec host, same closed-form fixtures).

ZIP is parsed the only correct way: End-Of-Central-Directory record
from the tail, then the central directory, then each member's local
header — one member's DATA embeds a literal ``PK\\x03\\x04`` signature,
so a parser that scans for local-header magic instead of walking the
central directory miscounts members.  Store (method 0), DEFLATE
(method 8, raw-deflate inflate via the same stdlib zlib the PNG path
uses), bzip2 (method 12, a whole bzip2 stream per APPNOTE 4.4.5), and
LZMA (method 14, APPNOTE 5.8: 2-byte version + 2-byte properties size
+ 5-byte LZMA properties, then the raw stream — reframed as an
LZMA-alone container with the central directory's uncompressed size)
members are extracted, with per-member CRC-32 verified over the
decompressed bytes; other methods raise at the exact boundary.

TAR is walked block-by-block: 512-byte ustar headers (octal sizes, the
spaces-for-checksum rule, magic/version), data rounded up to block
multiples, two zero blocks at the end.  Non-regular-file typeflags are
counted but not extracted.
"""

from __future__ import annotations

import bz2
import json
import lzma
import struct
import zlib

from ..multimodal.host import decoder


def archive_n_members(doc_id: int) -> int:
    return 2 + doc_id % 3


def archive_member_text(text: str, k: int) -> str:
    """Member k's content: the closed-form slice [5k, 5k + 30 + 2k) of
    the document text (clamped), which a SQL oracle restates with
    substr arithmetic."""
    start = 5 * k
    return text[start : start + 30 + 2 * k]


def make_zip_bytes(doc_id: int, text: str) -> bytes:
    """Mixed-method ZIP: local file headers, one member whose
    content is prefixed with a literal local-header signature (the
    central-directory trap), real CRC-32s, a central directory, and a
    correct End-Of-Central-Directory record.  Member k's compression
    method cycles store / DEFLATE / bzip2 / LZMA (methods 0/8/12/14)
    by k % 4, so every archive with >= 2 members exercises the inflate
    path and every >= 3-member archive the bzip2 path; LZMA members
    carry the APPNOTE 5.8 version + properties-size + properties
    preamble before the raw stream.

    Every fourth doc is written in ZIP64 form (APPNOTE 4.5, the layout
    any >4 GiB / >65k-member crawl archive uses): member 1's sizes and
    local-header offset are 0xFFFFFFFF sentinels resolved through a
    0x0001 extended-information extra field (central AND local), and
    the classic EOCD carries all-sentinel counts resolved through a
    ZIP64 end-of-central-directory record + locator.  The member
    CONTENT is identical either way — only the container encoding
    changes, so the extraction oracle is form-independent."""
    zip64 = doc_id % 4 == 0
    members = []
    for k in range(archive_n_members(doc_id)):
        name = f"doc{doc_id}/part{k}.txt".encode()
        data = archive_member_text(text, k).encode()
        if k == 0:
            data = b"PK\x03\x04" + data  # embedded-signature trap
        # member 2 (when present) is written STREAMING-style: general
        # purpose flag bit 3, zeroed local sizes/CRC, and a trailing
        # data descriptor — the shape zip writers emit when they can't
        # seek back (and naive extractors trip over)
        members.append((name, data, (0, 8, 12, 14)[k % 4], k == 2))

    out = bytearray()
    central = bytearray()
    for k, (name, data, method, streamed) in enumerate(members):
        crc = zlib.crc32(data) & 0xFFFFFFFF
        if method == 8:
            co = zlib.compressobj(9, zlib.DEFLATED, -15)  # raw deflate
            payload = co.compress(data) + co.flush()
        elif method == 12:
            payload = bz2.compress(data, 9)
        elif method == 14:
            # APPNOTE 5.8.5: version (2 bytes), properties size (2,
            # little-endian, = 5), the LZMA properties, then the raw
            # stream.  lzma-alone = 5-byte properties + 8-byte size +
            # raw stream, so slice the preamble off and keep the rest.
            alone = lzma.compress(data, format=lzma.FORMAT_ALONE)
            payload = (
                struct.pack("<BBH", 9, 20, 5) + alone[:5] + alone[13:]
            )
        else:
            payload = data
        local_off = len(out)
        # flag bit 3: data descriptor follows; bit 1 (for method 14):
        # the LZMA stream ends with an end-of-stream marker
        flags = (0x8 if streamed else 0) | (0x2 if method == 14 else 0)
        wide = zip64 and k == 1  # the sentinel-size member
        lh = (crc, len(payload), len(data)) if not streamed else (0, 0, 0)
        local_extra = b""
        if wide:
            # local zip64 extra carries usize then csize (APPNOTE 4.5.3:
            # both MUST appear in the local variant)
            lh = (crc, 0xFFFFFFFF, 0xFFFFFFFF)
            local_extra = struct.pack(
                "<HHQQ", 0x0001, 16, len(data), len(payload)
            )
        out += struct.pack(
            "<4sHHHHHIIIHH",
            b"PK\x03\x04", 45 if wide else 20, flags, method, 0, 0, *lh,
            len(name), len(local_extra),
        )
        out += name + local_extra + payload
        if streamed:  # data descriptor (with the optional signature)
            out += struct.pack(
                "<4sIII", b"PK\x07\x08", crc, len(payload), len(data)
            )
        if wide:
            # central zip64 extra: only the sentinel fields, in spec
            # order usize, csize, local-header offset
            c_extra = struct.pack(
                "<HHQQQ", 0x0001, 24, len(data), len(payload), local_off
            )
            c_csize = c_usize = c_off = 0xFFFFFFFF
        else:
            c_extra = b""
            c_csize, c_usize, c_off = len(payload), len(data), local_off
        central += struct.pack(
            "<4sHHHHHHIIIHHHHHII",
            b"PK\x01\x02", 45 if wide else 20, 45 if wide else 20, flags,
            method, 0, 0, crc, c_csize, c_usize,
            len(name), len(c_extra), 0, 0, 0, 0, c_off,
        )
        central += name + c_extra
    cd_off = len(out)
    out += central
    if zip64:
        z64_at = len(out)
        out += struct.pack(
            "<4sQHHIIQQQQ",
            b"PK\x06\x06", 44, 45, 45, 0, 0,
            len(members), len(members), len(central), cd_off,
        )
        out += struct.pack("<4sIQI", b"PK\x06\x07", 0, z64_at, 1)
        out += struct.pack(
            "<4sHHHHIIH",
            b"PK\x05\x06", 0, 0, 0xFFFF, 0xFFFF,
            0xFFFFFFFF, 0xFFFFFFFF, 0,
        )
    else:
        out += struct.pack(
            "<4sHHHHIIH",
            b"PK\x05\x06", 0, 0, len(members), len(members), len(central),
            cd_off, 0,
        )
    return bytes(out)


def _zip64_extra(doc_id: int, extra: bytes) -> bytes:
    """The 0x0001 extended-information field's payload from a header's
    extra area (APPNOTE 4.5.2: a sequence of id(2)/size(2)/data
    chunks); raises when sentinels demanded one and it is absent."""
    pos = 0
    while pos + 4 <= len(extra):
        fid, fsz = struct.unpack_from("<HH", extra, pos)
        pos += 4
        if pos + fsz > len(extra):
            raise ValueError(f"doc {doc_id}: extra field overruns its area")
        if fid == 0x0001:
            return extra[pos : pos + fsz]
        pos += fsz
    raise ValueError(
        f"doc {doc_id}: size/offset sentinels without a ZIP64 extra field"
    )


def parse_zip(doc_id: int, raw: bytes) -> tuple[int, int, int]:
    """(n_members, sum_content_chars, total_uncompressed) via the
    central directory.  Verifies EOCD geometry, local-vs-central name
    agreement, and every member's CRC-32 over the DECOMPRESSED bytes;
    store, DEFLATE, bzip2, and LZMA members are extracted, other
    methods raise NotImplementedError, structural damage ValueError.  ZIP64 archives
    (APPNOTE 4.5) resolve: 0xFFFF/0xFFFFFFFF EOCD sentinels through
    the ZIP64 EOCD locator + record, and per-entry size/offset
    sentinels through the 0x0001 extended-information extra field."""
    if len(raw) < 22 or raw[-22:-18] != b"PK\x05\x06":
        raise ValueError(f"doc {doc_id}: missing end-of-central-directory")
    (_sig, _dn, _ds, n_here, n_total, cd_size, cd_off, _clen) = struct.unpack(
        "<4sHHHHIIH", raw[-22:]
    )
    if n_here != n_total:
        raise ValueError(f"doc {doc_id}: split archive unsupported")
    cd_end = len(raw) - 22
    if 0xFFFF in (n_here, n_total) or 0xFFFFFFFF in (cd_size, cd_off):
        # ZIP64: the locator sits immediately before the classic EOCD
        if len(raw) < 42 or raw[-42:-38] != b"PK\x06\x07":
            raise ValueError(
                f"doc {doc_id}: EOCD sentinels without a ZIP64 locator"
            )
        _lsig, l_disk, z64_at, n_disks = struct.unpack(
            "<4sIQI", raw[-42:-22]
        )
        if l_disk != 0 or n_disks != 1:
            raise ValueError(f"doc {doc_id}: split ZIP64 archive unsupported")
        if z64_at + 56 > len(raw) or raw[z64_at : z64_at + 4] != b"PK\x06\x06":
            raise ValueError(
                f"doc {doc_id}: ZIP64 EOCD record missing at {z64_at}"
            )
        (_zsig, _zsize, _vmade, _vneed, _zd, _zcd, z_here, z_total,
         cd_size, cd_off) = struct.unpack(
            "<4sQHHIIQQQQ", raw[z64_at : z64_at + 56]
        )
        if z_here != z_total:
            raise ValueError(f"doc {doc_id}: split ZIP64 archive unsupported")
        n_total = z_total
        cd_end = z64_at
    if cd_off + cd_size != cd_end:
        raise ValueError(f"doc {doc_id}: central directory geometry broken")
    pos = cd_off
    n_members = total_chars = total_bytes = 0
    for _ in range(n_total):
        if raw[pos : pos + 4] != b"PK\x01\x02":
            raise ValueError(f"doc {doc_id}: bad central-directory entry")
        (
            _sig, _vmade, _vneed, _flags, method, _t, _d, crc, csize, usize,
            nlen, elen, clen, _disk, _iattr, _eattr, local_off,
        ) = struct.unpack("<4sHHHHHHIIIHHHHHII", raw[pos : pos + 46])
        cname = raw[pos + 46 : pos + 46 + nlen]
        extra = raw[pos + 46 + nlen : pos + 46 + nlen + elen]
        pos += 46 + nlen + elen + clen
        if 0xFFFFFFFF in (csize, usize, local_off):
            z64 = _zip64_extra(doc_id, extra)
            # APPNOTE 4.5.3 field order: usize, csize, offset — only
            # the sentinel fields are present
            want = [usize == 0xFFFFFFFF, csize == 0xFFFFFFFF,
                    local_off == 0xFFFFFFFF]
            if len(z64) != 8 * sum(want):
                raise ValueError(
                    f"doc {doc_id}: ZIP64 extra carries {len(z64)} bytes "
                    f"for {sum(want)} sentinel fields in {cname!r}"
                )
            vals = iter(struct.unpack(f"<{sum(want)}Q", z64))
            if want[0]:
                usize = next(vals)
            if want[1]:
                csize = next(vals)
            if want[2]:
                local_off = next(vals)
        if method not in (0, 8, 12, 14):
            raise NotImplementedError(
                f"ZIP compression method {method} not implemented "
                "(store/deflate/bzip2/lzma only)"
            )
        lh = struct.unpack(
            "<4sHHHHHIIIHH", raw[local_off : local_off + 30]
        )
        if lh[0] != b"PK\x03\x04":
            raise ValueError(f"doc {doc_id}: local header signature missing")
        lname = raw[local_off + 30 : local_off + 30 + lh[9]]
        if lname != cname:
            raise ValueError(
                f"doc {doc_id}: local/central name mismatch {lname!r}"
            )
        data_at = local_off + 30 + lh[9] + lh[10]
        data = raw[data_at : data_at + csize]
        if len(data) != csize:
            raise ValueError(f"doc {doc_id}: truncated member data")
        if lh[2] & 0x8:
            # streamed member: zeroed local fields, trailing data
            # descriptor (optionally signed) that must agree with the
            # central directory
            desc_at = data_at + csize
            if raw[desc_at : desc_at + 4] == b"PK\x07\x08":
                desc_at += 4
            if desc_at + 12 > len(raw):
                raise ValueError(
                    f"doc {doc_id}: truncated data descriptor"
                )
            d_crc, d_csize, d_usize = struct.unpack_from(
                "<III", raw, desc_at
            )
            if (d_crc, d_csize, d_usize) != (crc, csize, usize):
                raise ValueError(
                    f"doc {doc_id}: data descriptor disagrees with "
                    "central directory"
                )
        elif lh[7] == lh[8] == 0xFFFFFFFF:
            # ZIP64 local header: real sizes live in its 0x0001 extra
            # (usize then csize, both mandatory in the local variant)
            l_extra = raw[
                local_off + 30 + lh[9] : local_off + 30 + lh[9] + lh[10]
            ]
            z64 = _zip64_extra(doc_id, l_extra)
            if len(z64) != 16:
                raise ValueError(
                    f"doc {doc_id}: local ZIP64 extra must carry "
                    f"usize+csize, got {len(z64)} bytes"
                )
            l_usize, l_csize = struct.unpack("<QQ", z64)
            if (lh[6], l_csize, l_usize) != (crc, csize, usize):
                raise ValueError(
                    f"doc {doc_id}: local ZIP64 fields disagree with "
                    "central directory"
                )
        elif (lh[6], lh[7], lh[8]) != (crc, csize, usize):
            raise ValueError(
                f"doc {doc_id}: local header fields disagree with "
                "central directory"
            )
        if method == 8:
            try:  # raw deflate: negative wbits = no zlib header/trailer
                data = zlib.decompress(data, -15)
            except zlib.error as exc:
                raise ValueError(
                    f"doc {doc_id}: bad deflate stream in {cname!r}: {exc}"
                ) from None
        elif method == 12:
            try:  # a whole bzip2 stream (APPNOTE 4.4.5)
                data = bz2.decompress(data)
            except (OSError, ValueError) as exc:
                raise ValueError(
                    f"doc {doc_id}: bad bzip2 stream in {cname!r}: {exc}"
                ) from None
        elif method == 14:
            # APPNOTE 5.8.5 preamble, then the raw LZMA stream.  Rebuild
            # an LZMA-alone container: flag bit 1 means the stream ends
            # with an EOS marker (size unknown); otherwise the central
            # directory's uncompressed size bounds it.
            if len(data) < 9:
                raise ValueError(
                    f"doc {doc_id}: LZMA member too short in {cname!r}"
                )
            psize = int.from_bytes(data[2:4], "little")
            if psize != 5:
                raise ValueError(
                    f"doc {doc_id}: LZMA properties size {psize} != 5 "
                    f"in {cname!r}"
                )
            size8 = (
                b"\xff" * 8 if _flags & 0x2
                else usize.to_bytes(8, "little")
            )
            try:
                data = lzma.decompress(
                    data[4:9] + size8 + data[9:],
                    format=lzma.FORMAT_ALONE,
                )
            except lzma.LZMAError as exc:
                raise ValueError(
                    f"doc {doc_id}: bad LZMA stream in {cname!r}: {exc}"
                ) from None
        if len(data) != usize:
            raise ValueError(f"doc {doc_id}: member size mismatch")
        if zlib.crc32(data) & 0xFFFFFFFF != crc:
            raise ValueError(f"doc {doc_id}: CRC-32 mismatch in {cname!r}")
        content = data.decode("utf-8", "strict")
        if content.startswith("PK\x03\x04"):
            content = content[4:]  # the fixture's embedded-signature trap
        n_members += 1
        total_chars += len(content)
        total_bytes += usize
    return n_members, total_chars, total_bytes


def _tar_header(name: bytes, size: int, typeflag: str) -> bytes:
    hdr = bytearray(512)
    hdr[0 : len(name)] = name[:100]
    hdr[100:108] = b"0000644\x00"
    hdr[108:116] = b"0000000\x00"
    hdr[116:124] = b"0000000\x00"
    hdr[124:136] = f"{size:011o}\x00".encode()
    hdr[136:148] = b"00000000000\x00"
    hdr[148:156] = b" " * 8  # checksum computed with spaces
    hdr[156] = ord(typeflag)
    hdr[257:263] = b"ustar\x00"
    hdr[263:265] = b"00"
    chksum = sum(hdr)
    hdr[148:156] = f"{chksum:06o}\x00 ".encode()
    return bytes(hdr)


def tar_long_name(doc_id: int, k: int) -> str:
    """Odd members' REAL (>100-char) path, delivered via a GNU
    @LongLink entry."""
    return f"doc{doc_id}/" + "deep/" * 22 + f"part{k}.txt"


def tar_pax_name(doc_id: int, k: int) -> str:
    """Member 2's REAL path, delivered via a POSIX pax 'x' record:
    >100 chars AND non-ASCII (pax paths are UTF-8 by definition; the
    ustar header field can carry neither)."""
    return f"doc{doc_id}/" + "pax/" * 24 + f"pärt{k}.txt"


def _pax_data(records: dict[str, str]) -> bytes:
    """pax extended-header payload (POSIX.1-2001 §pax): each record is
    '<len> <key>=<value>\\n' where len counts the WHOLE record
    including its own digits — the self-referential length every pax
    writer solves by iteration."""
    out = bytearray()
    for key, value in records.items():
        body = f" {key}={value}\n".encode()
        length = len(body) + 1
        while len(str(length)) + len(body) != length:
            length = len(str(length)) + len(body)
        out += str(length).encode() + body
    return bytes(out)


def make_tar_bytes(doc_id: int, text: str) -> bytes:
    """ustar TAR: 512-byte headers with octal fields, the checksum-as-
    spaces rule, magic "ustar", data padded to block multiples, two
    zero blocks at the end.  Odd members carry a 120+-char path via a
    GNU 'L' @LongLink entry (one header + one data block naming the
    NEXT member) — the extension every real tar of nested corpora
    hits; member 2 (archives with >= 3 members) instead carries a
    POSIX pax 'x' extended header with a >100-char UTF-8 path plus
    size and sub-second-mtime records — the modern GNU/POSIX default
    format."""
    out = bytearray()
    for k in range(archive_n_members(doc_id)):
        data = archive_member_text(text, k).encode()
        if k % 2:
            longname = tar_long_name(doc_id, k).encode() + b"\x00"
            out += _tar_header(b"././@LongLink", len(longname), "L")
            out += longname + bytes((512 - len(longname) % 512) % 512)
            name = longname[:100].rstrip(b"\x00")  # truncated fallback
        elif k == 2:
            # POSIX pax 'x' extended header naming the NEXT member:
            # a long UTF-8 path (beyond ustar's field), the decimal
            # size (pax lifts the 8 GiB octal ceiling), and a
            # sub-second mtime — the modern GNU/POSIX default format
            pax = _pax_data({
                "path": tar_pax_name(doc_id, k),
                "size": str(len(data)),
                "mtime": "1700000000.123456789",
            })
            out += _tar_header(b"./PaxHeaders.0/part", len(pax), "x")
            out += pax + bytes((512 - len(pax) % 512) % 512)
            name = tar_pax_name(doc_id, k).encode()[:100]
        else:
            name = f"doc{doc_id}/part{k}.txt".encode()
        out += _tar_header(name, len(data), "0")
        out += data
        out += bytes((512 - len(data) % 512) % 512)
    out += bytes(1024)
    return bytes(out)


def _parse_pax(doc_id: int, data: bytes) -> dict[str, str]:
    """pax extended-header records: '<len> <key>=<value>\\n' with the
    self-including decimal length verified for every record."""
    records: dict[str, str] = {}
    pos = 0
    while pos < len(data):
        sp = data.find(b" ", pos)
        if sp < 0:
            raise ValueError(f"doc {doc_id}: pax record missing length")
        try:
            length = int(data[pos:sp])
        except ValueError:
            raise ValueError(
                f"doc {doc_id}: non-decimal pax record length"
            ) from None
        rec = data[pos : pos + length]
        if length <= sp - pos or not rec.endswith(b"\n"):
            raise ValueError(
                f"doc {doc_id}: pax record length {length} does not land "
                "on a newline"
            )
        key, eq, value = rec[sp - pos + 1 : -1].partition(b"=")
        if not eq:
            raise ValueError(f"doc {doc_id}: pax record without '='")
        records[key.decode("utf-8")] = value.decode("utf-8")
        pos += length
    return records


def parse_tar(doc_id: int, raw: bytes) -> tuple[int, int, int]:
    """(n_members, sum_content_chars, n_blocks) by walking 512-byte
    ustar headers with checksum and magic verification.  GNU 'L'
    @LongLink entries are consumed as the NEXT member's real name
    (NUL-terminated, must agree with the following header's truncated
    prefix); POSIX pax 'x' extended headers are parsed as
    length-verified key=value records whose path/size overrides are
    checked against the following member (UTF-8 long path agrees with
    the header's truncated prefix, decimal size agrees with the octal
    field).  A dangling 'L'/'x' with no member after it raises;
    global 'g' records are a declared stub."""
    if len(raw) % 512:
        raise ValueError(f"doc {doc_id}: tar not block-aligned")
    pos = 0
    n_members = total_chars = 0
    pending_name: bytes | None = None
    pending_pax: dict[str, str] | None = None
    while pos < len(raw):
        hdr = raw[pos : pos + 512]
        if hdr == bytes(512):
            break
        if hdr[257:262] != b"ustar":
            raise ValueError(f"doc {doc_id}: missing ustar magic at {pos}")
        claimed = int(hdr[148:155].rstrip(b"\x00 ") or b"0", 8)
        spaced = bytearray(hdr)
        spaced[148:156] = b" " * 8
        if sum(spaced) != claimed:
            raise ValueError(f"doc {doc_id}: header checksum bad at {pos}")
        size = int(hdr[124:135].rstrip(b"\x00 ") or b"0", 8)
        typeflag = chr(hdr[156])
        pos += 512
        data = raw[pos : pos + size]
        if len(data) != size:
            raise ValueError(f"doc {doc_id}: truncated tar member")
        if typeflag == "L":
            if pending_name is not None:
                raise ValueError(
                    f"doc {doc_id}: consecutive @LongLink entries"
                )
            pending_name = data.rstrip(b"\x00")
            if not pending_name:
                raise ValueError(f"doc {doc_id}: empty @LongLink name")
        elif typeflag == "x":
            if pending_pax is not None:
                raise ValueError(
                    f"doc {doc_id}: consecutive pax extended headers"
                )
            pending_pax = _parse_pax(doc_id, data)
        elif typeflag == "g":
            raise NotImplementedError(
                "pax 'g' global extended headers not implemented "
                "(per-file 'x' records only)"
            )
        elif typeflag == "0":
            if pending_name is not None:
                short = hdr[:100].rstrip(b"\x00")
                if not pending_name.startswith(short):
                    raise ValueError(
                        f"doc {doc_id}: @LongLink name disagrees with "
                        "the member header prefix"
                    )
                pending_name = None
            if pending_pax is not None:
                short = hdr[:100].rstrip(b"\x00")
                pax_path = pending_pax.get("path")
                if pax_path is not None and not pax_path.encode(
                    "utf-8"
                ).startswith(short):
                    raise ValueError(
                        f"doc {doc_id}: pax path disagrees with the "
                        "member header prefix"
                    )
                pax_size = pending_pax.get("size")
                if pax_size is not None and int(pax_size) != size:
                    raise ValueError(
                        f"doc {doc_id}: pax size {pax_size} disagrees "
                        f"with the header's {size}"
                    )
                pending_pax = None
            n_members += 1
            total_chars += len(data.decode("utf-8", "strict"))
        pos += size + (512 - size % 512) % 512
    else:
        raise ValueError(f"doc {doc_id}: tar missing end-of-archive blocks")
    if pending_name is not None:
        raise ValueError(f"doc {doc_id}: dangling @LongLink entry")
    if pending_pax is not None:
        raise ValueError(f"doc {doc_id}: dangling pax extended header")
    return n_members, total_chars, len(raw) // 512


ARCHIVE_SCHEMA = (
    "doc_id long, n_members long, sum_content_chars long, total_size long"
)


@decoder(ARCHIVE_SCHEMA)
def decode_zip():
    """One ZIP archive per row: ``parse_zip``'s member counts."""
    return lambda doc_id, raw: [parse_zip(doc_id, raw)]


@decoder(ARCHIVE_SCHEMA)
def decode_tar():
    """One TAR archive per row: ``parse_tar``'s member counts."""
    return lambda doc_id, raw: [parse_tar(doc_id, raw)]


# --- multi-member gzip JSONL (the .jsonl.gz corpus shape) -------------------

GZIP_JSONL_SCHEMA = (
    "doc_id long, n_members long, n_lines long, sum_ids long, "
    "sum_text_chars long"
)


def gzip_n_members(doc_id: int) -> int:
    return 1 + doc_id % 3


def gzip_member_lines(doc_id: int, i: int) -> int:
    return 2 + (doc_id + i) % 4


def gzip_line_text(text: str, i: int, line: int) -> str:
    """Line (i, line)'s payload: the closed-form text slice
    [3(i+line), 3(i+line) + 8 + line)."""
    start = 3 * (i + line)
    return text[start : start + 8 + line]


def make_gzip_jsonl_bytes(doc_id: int, text: str) -> bytes:
    """A CONCATENATED multi-member gzip file (RFC 1952 allows — and web
    corpora use — back-to-back members a reader must loop over), each
    member one JSONL shard: magic 1F 8B, CM 8, per-member header flags
    (FNAME on odd members, FEXTRA on members divisible by 3, FHCRC on
    members with doc_id + i odd — its CRC-16 really computed over the
    header bytes per RFC 1952 §2.3.1), raw DEFLATE body, then CRC-32
    and ISIZE trailers over the plain text."""
    out = bytearray()
    for i in range(gzip_n_members(doc_id)):
        lines = []
        for line in range(gzip_member_lines(doc_id, i)):
            obj = {
                "id": doc_id * 100 + i * 10 + line,
                "t": gzip_line_text(text, i, line),
            }
            lines.append(json.dumps(obj, separators=(",", ":")))
        plain = ("\n".join(lines) + "\n").encode()
        flg = (
            (0x08 if i % 2 else 0)
            | (0x04 if i % 3 == 0 else 0)
            | (0x02 if (doc_id + i) % 2 else 0)
        )
        hdr = bytearray((0x1F, 0x8B, 8, flg))
        hdr += struct.pack("<I", (doc_id * 7 + i) % 2**32)  # MTIME
        hdr += bytes((0, 255))  # XFL, OS unknown
        if flg & 0x04:  # FEXTRA: len-prefixed subfield block
            extra = b"SG" + struct.pack("<H", 4) + struct.pack("<I", i)
            hdr += struct.pack("<H", len(extra)) + extra
        if flg & 0x08:  # FNAME: zero-terminated
            hdr += f"shard-{i:03d}.jsonl".encode() + b"\x00"
        if flg & 0x02:  # FHCRC: low 16 bits of CRC-32 over the header
            hdr += struct.pack("<H", zlib.crc32(bytes(hdr)) & 0xFFFF)
        out += hdr
        co = zlib.compressobj(9, zlib.DEFLATED, -15)
        out += co.compress(plain) + co.flush()
        out += struct.pack("<I", zlib.crc32(plain) & 0xFFFFFFFF)
        out += struct.pack("<I", len(plain) % 2**32)
    return bytes(out)


def parse_gzip_jsonl(doc_id: int, raw: bytes) -> tuple[int, int, int, int]:
    """(n_members, n_lines, sum_ids, sum_text_chars) by walking every
    gzip member: header flag dispatch (FEXTRA/FNAME/FCOMMENT/FHCRC,
    the FHCRC really VERIFIED as the low 16 bits of CRC-32 over the
    header bytes, RFC 1952 §2.3.1), raw-DEFLATE decompression, CRC-32
    and ISIZE verification against the decompressed text, then JSON
    decoding of each line."""
    pos = 0
    n_members = n_lines = sum_ids = sum_chars = 0
    while pos < len(raw):
        member_at = pos
        if pos + 10 > len(raw):
            raise ValueError(f"doc {doc_id}: truncated gzip header")
        if raw[pos : pos + 2] != b"\x1f\x8b":
            raise ValueError(f"doc {doc_id}: bad gzip magic at {pos}")
        if raw[pos + 2] != 8:
            raise NotImplementedError(
                f"gzip compression method {raw[pos + 2]} not implemented "
                "(deflate only)"
            )
        flg = raw[pos + 3]
        if flg & 0xE0:
            raise ValueError(f"doc {doc_id}: reserved gzip FLG bits set")
        pos += 10
        if flg & 0x04:  # FEXTRA
            if pos + 2 > len(raw):
                raise ValueError(f"doc {doc_id}: truncated FEXTRA length")
            (xlen,) = struct.unpack_from("<H", raw, pos)
            pos += 2 + xlen
        if flg & 0x08:  # FNAME
            end = raw.find(b"\x00", pos)
            if end < 0:
                raise ValueError(f"doc {doc_id}: unterminated FNAME")
            pos = end + 1
        if flg & 0x10:  # FCOMMENT
            end = raw.find(b"\x00", pos)
            if end < 0:
                raise ValueError(f"doc {doc_id}: unterminated FCOMMENT")
            pos = end + 1
        if flg & 0x02:  # FHCRC: CRC-16 over the header bytes so far
            if pos + 2 > len(raw):
                raise ValueError(f"doc {doc_id}: truncated FHCRC")
            (claimed,) = struct.unpack_from("<H", raw, pos)
            if zlib.crc32(raw[member_at:pos]) & 0xFFFF != claimed:
                raise ValueError(
                    f"doc {doc_id}: gzip header CRC-16 mismatch at "
                    f"{member_at}"
                )
            pos += 2
        d = zlib.decompressobj(-15)
        try:
            plain = d.decompress(raw[pos:])
        except zlib.error as exc:
            raise ValueError(
                f"doc {doc_id}: bad deflate member: {exc}"
            ) from None
        if not d.eof:
            raise ValueError(f"doc {doc_id}: deflate member unterminated")
        pos = len(raw) - len(d.unused_data)
        if pos + 8 > len(raw):
            raise ValueError(f"doc {doc_id}: truncated gzip trailer")
        crc, isize = struct.unpack_from("<II", raw, pos)
        pos += 8
        if zlib.crc32(plain) & 0xFFFFFFFF != crc:
            raise ValueError(f"doc {doc_id}: gzip CRC-32 mismatch")
        if len(plain) % 2**32 != isize:
            raise ValueError(f"doc {doc_id}: gzip ISIZE mismatch")
        n_members += 1
        for line in plain.decode("utf-8", "strict").splitlines():
            obj = json.loads(line)
            n_lines += 1
            sum_ids += obj["id"]
            sum_chars += len(obj["t"])
    if n_members == 0:
        raise ValueError(f"doc {doc_id}: empty gzip stream")
    return n_members, n_lines, sum_ids, sum_chars


@decoder(GZIP_JSONL_SCHEMA)
def decode_gzip_jsonl():
    """One multi-member .jsonl.gz per row: ``parse_gzip_jsonl``'s counts."""
    return lambda doc_id, raw: [parse_gzip_jsonl(doc_id, raw)]
