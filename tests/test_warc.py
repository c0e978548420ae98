"""WARC container plumbing: the content-length walk, the embedded-magic
trap, tag stripping, and malformed-file rejection (oracle parity for the
registered query runs in test_oracle_parity)."""

from __future__ import annotations

import pytest

from open_source_etl_spark.ingest.warc import (
    make_warc_bytes,
    parse_warc,
    strip_html_text,
)


def test_warc_walk_honors_content_length_over_magic():
    """Page 0's body embeds a literal 'WARC/1.0 ' — the parser must
    count records by Content-Length, not by scanning for the magic."""
    raw = make_warc_bytes(4, "x" * 200)  # even doc: plain form
    assert raw.count(b"WARC/1.0") == 8  # 7 record headers + 1 in a body
    n_records, n_resp, _ok, _chars, _bytes = parse_warc(4, raw)
    assert (n_records, n_resp) == (7, 3)


def test_warc_gz_per_record_members():
    """Odd docs arrive as .warc.gz with ONE record per gzip member
    (the Common Crawl random-access layout): counts match the plain
    form, a corrupted member trailer raises, and a member holding two
    records violates the contract."""
    import gzip

    text = "z" * 200
    gz = make_warc_bytes(1, text)
    assert gz[:2] == b"\x1f\x8b"
    # identical counts to a hand-built plain form of the same records
    members = []
    pos = 0
    import zlib
    while pos < len(gz):
        d = zlib.decompressobj(31)
        members.append(d.decompress(gz[pos:]))
        pos = len(gz) - len(d.unused_data)
    assert parse_warc(1, gz) == parse_warc(1, b"".join(members))
    assert len(members) == 7  # one member per record

    bad = bytearray(gz)
    bad[-2] ^= 0xFF  # last member's ISIZE
    with pytest.raises(ValueError, match="warc.gz member"):
        parse_warc(1, bytes(bad))

    two = gzip.compress(members[0] + members[1], 9, mtime=0)
    with pytest.raises(ValueError, match="exactly one per member"):
        parse_warc(1, two + gz[len(gzip.compress(members[0], 9, mtime=0)):])


def test_strip_html_text():
    assert strip_html_text("<html><body>a<b>c</b></body></html>") == "ac"
    assert strip_html_text("no tags") == "no tags"
    assert strip_html_text("<p>") == ""


def test_warc_rejects_malformed():
    """Wrong magic, a Content-Length lie (payload not closed by
    CRLFCRLF), a missing Content-Length header, and truncation all
    raise."""
    raw = make_warc_bytes(2, "y" * 150)  # even doc: plain form

    bad_magic = b"WARC/0.9" + raw[8:]
    with pytest.raises(ValueError, match="version"):
        parse_warc(2, bad_magic)

    lie = raw.replace(b"Content-Length: 33", b"Content-Length: 30", 1)
    with pytest.raises(ValueError, match="Content-Length"):
        parse_warc(2, lie)

    no_len = raw.replace(b"Content-Length: 33\r\n", b"", 1)
    with pytest.raises(ValueError, match="without Content-Length"):
        parse_warc(2, no_len)

    with pytest.raises(ValueError, match="truncated|unterminated"):
        parse_warc(2, raw[:-6])

    with pytest.raises(ValueError, match="empty"):
        parse_warc(2, b"")


def test_warc_extract_distributed(spark):
    """The codec host over a ``doc_id, text`` frame feeds the text to
    ``make_warc_bytes`` and produces one row per doc with the same
    values as the pure parse."""
    from open_source_etl_spark.ingest.warc import decode_warc
    from open_source_etl_spark.multimodal.decode import media_frame

    docs = spark.createDataFrame(
        [(i, "word " * (10 + i)) for i in range(6)], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in media_frame(docs, make_warc_bytes, decode_warc).collect()}
    assert len(rows) == 6
    for i in range(6):
        exp = parse_warc(i, make_warc_bytes(i, "word " * (10 + i)))[:4]
        got = (rows[i].n_records, rows[i].n_responses, rows[i].n_ok,
               rows[i].sum_text_chars)
        assert got == exp


def test_zip_walks_central_directory_not_signatures():
    """Member 0's data embeds a literal PK\\x03\\x04; counting local-
    header signatures overcounts, the central directory does not."""
    from open_source_etl_spark.ingest.archives import (
        archive_n_members,
        make_zip_bytes,
        parse_zip,
    )

    raw = make_zip_bytes(1, "z" * 100)
    np_ = archive_n_members(1)
    assert raw.count(b"PK\x03\x04") == np_ + 1  # the trap
    n, _chars, _size = parse_zip(1, raw)
    assert n == np_


def test_zip_rejects_malformed():
    import pytest

    from open_source_etl_spark.ingest.archives import make_zip_bytes, parse_zip

    raw = make_zip_bytes(3, "q" * 120)

    no_eocd = raw[:-22]
    with pytest.raises(ValueError, match="end-of-central"):
        parse_zip(3, no_eocd)

    flipped = bytearray(raw)
    flipped[30 + 14 + 2] ^= 0x01  # inside member 0's data -> CRC-32 bad
    with pytest.raises(ValueError, match="CRC-32"):
        parse_zip(3, bytes(flipped))

    import struct

    (_s, _dn, _ds, _nh, _nt, _cs, cd_off, _cl) = struct.unpack(
        "<4sHHHHIIH", raw[-22:]
    )
    # central directory: first entry's method field at cd_off + 10
    unknown = bytearray(raw)
    struct.pack_into("<H", unknown, cd_off + 10, 93)  # zstd: not shipped
    with pytest.raises(
        NotImplementedError, match="store/deflate/bzip2/lzma only"
    ):
        parse_zip(3, bytes(unknown))

    # claiming bzip2 over stored (non-bzip2) payload must fail as a
    # corrupt stream, not decode garbage
    fake_bzip2 = bytearray(raw)
    struct.pack_into("<H", fake_bzip2, cd_off + 10, 12)
    with pytest.raises(ValueError, match="bad bzip2 stream"):
        parse_zip(3, bytes(fake_bzip2))

    # claiming DEFLATE over stored (non-deflate) payload must fail as a
    # corrupt stream, not decode garbage
    fake_deflate = bytearray(raw)
    struct.pack_into("<H", fake_deflate, cd_off + 10, 8)
    with pytest.raises(ValueError, match="bad deflate stream"):
        parse_zip(3, bytes(fake_deflate))


def test_zip_deflate_members_roundtrip_and_reject_corruption():
    """Odd members are raw-DEFLATE compressed: the archive must be
    smaller than the stored payload implies, still extract to the same
    closed-form totals, and reject a corrupted compressed stream."""
    import struct

    import pytest

    from open_source_etl_spark.ingest.archives import (
        archive_member_text,
        archive_n_members,
        make_zip_bytes,
        parse_zip,
    )

    # doc 9: exactly two members (store + DEFLATE), so the whole-archive
    # shrink bound isn't diluted by bzip2/LZMA's fixed header overhead
    # on tiny payloads
    doc_id, text = 9, "the quick brown fox " * 12  # repetitive → compresses
    raw = make_zip_bytes(doc_id, text)
    n = archive_n_members(doc_id)
    assert n == 2
    chars = sum(len(archive_member_text(text, k)) for k in range(n))
    total = chars + 4  # member 0's embedded-signature trap bytes
    assert parse_zip(doc_id, raw) == (n, chars, total)
    assert len(raw) < total + n * (30 + 46 + 2 * 16) + 22  # deflate shrank

    # locate member 1 (deflated) via the central directory and flip a
    # byte inside its compressed payload
    (_s, _dn, _ds, _nh, _nt, _cs, cd_off, _cl) = struct.unpack(
        "<4sHHHHIIH", raw[-22:]
    )
    pos = cd_off
    entry = struct.unpack("<4sHHHHHHIIIHHHHHII", raw[pos : pos + 46])
    pos += 46 + entry[10] + entry[11] + entry[12]
    entry1 = struct.unpack("<4sHHHHHHIIIHHHHHII", raw[pos : pos + 46])
    assert entry1[4] == 8  # member 1 is DEFLATE
    local_off, nlen, csize = entry1[16], entry1[10], entry1[8]
    data_at = local_off + 30 + nlen
    corrupt = bytearray(raw)
    corrupt[data_at + csize // 2] ^= 0xFF
    with pytest.raises(ValueError, match="bad deflate stream|CRC-32|size mismatch"):
        parse_zip(doc_id, bytes(corrupt))


def test_zip_bzip2_and_lzma_members_roundtrip_and_reject_corruption():
    """Member k's method cycles store/DEFLATE/bzip2/LZMA by k % 4: a
    4-member archive (doc % 3 = 2) carries one bzip2 and one LZMA
    member, both must extract to the same closed-form totals as a
    store-only archive would, and a corrupted compressed payload must
    fail as a corrupt stream (or CRC mismatch), never decode garbage."""
    import struct

    import pytest

    from open_source_etl_spark.ingest.archives import (
        archive_member_text,
        archive_n_members,
        make_zip_bytes,
        parse_zip,
    )

    doc_id, text = 5, "pack my box with five dozen liquor jugs " * 8
    raw = make_zip_bytes(doc_id, text)
    n = archive_n_members(doc_id)
    assert n == 4  # members 2 (bzip2, streamed) and 3 (LZMA) exist
    chars = sum(len(archive_member_text(text, k)) for k in range(n))
    assert parse_zip(doc_id, raw) == (n, chars, chars + 4)

    # walk the central directory to members 2 and 3
    (_s, _dn, _ds, _nh, _nt, _cs, cd_off, _cl) = struct.unpack(
        "<4sHHHHIIH", raw[-22:]
    )
    pos, entries = cd_off, []
    for _ in range(n):
        e = struct.unpack("<4sHHHHHHIIIHHHHHII", raw[pos : pos + 46])
        entries.append(e)
        pos += 46 + e[10] + e[11] + e[12]
    assert [e[4] for e in entries] == [0, 8, 12, 14]
    # flip bytes the decoder provably consumes: the stream tail (bzip2
    # combined CRC / LZMA end-of-stream region) and the bzip2 block
    # header — a mid-stream flip can land in dead table slots and
    # change nothing, which is not corruption tolerance, just unread
    # bits
    for idx, off in ((2, 5), (2, None), (3, None)):
        e = entries[idx]
        local_off, nlen, csize = e[16], e[10], e[8]
        data_at = local_off + 30 + nlen
        corrupt = bytearray(raw)
        corrupt[data_at + (csize - 3 if off is None else off)] ^= 0xFF
        with pytest.raises(
            ValueError,
            match="bad bzip2 stream|bad LZMA stream|CRC-32|size mismatch",
        ):
            parse_zip(doc_id, bytes(corrupt))

    # LZMA member with a non-5 properties size is rejected at the
    # preamble, before any decompression
    e = entries[3]
    bad_psize = bytearray(raw)
    struct.pack_into("<H", bad_psize, e[16] + 30 + e[10] + 2, 9)
    with pytest.raises(ValueError, match="properties size"):
        parse_zip(doc_id, bytes(bad_psize))


def test_tar_rejects_malformed():
    import pytest

    from open_source_etl_spark.ingest.archives import make_tar_bytes, parse_tar

    raw = make_tar_bytes(3, "q" * 120)

    bad_checksum = bytearray(raw)
    bad_checksum[0] ^= 0x01  # name byte -> checksum mismatch
    with pytest.raises(ValueError, match="checksum"):
        parse_tar(3, bytes(bad_checksum))

    with pytest.raises(ValueError, match="block-aligned"):
        parse_tar(3, raw[:-100])

    no_end = raw[:-1024]
    with pytest.raises(ValueError, match="end-of-archive"):
        parse_tar(3, no_end)

    bad_magic = bytearray(raw)
    bad_magic[257] = ord("x")
    with pytest.raises(ValueError, match="magic"):
        parse_tar(3, bytes(bad_magic))


def test_tfrecord_crc32c_and_rejection():
    """CRC-32C matches the public check vector; framing damage (either
    masked CRC, truncation) and wire damage (truncated varint) raise."""
    import pytest

    from open_source_etl_spark.ingest.tfrecord import (
        crc32c,
        make_tfrecord_bytes,
        parse_tfrecord,
    )

    assert crc32c(b"123456789") == 0xE3069283  # RFC 3720 check value

    raw = make_tfrecord_bytes(3, "q" * 200)

    bad_len_crc = bytearray(raw)
    bad_len_crc[8] ^= 0x01
    with pytest.raises(ValueError, match="length CRC"):
        parse_tfrecord(3, bytes(bad_len_crc))

    bad_payload = bytearray(raw)
    bad_payload[14] ^= 0x01  # inside the first Example
    with pytest.raises(ValueError, match="CRC mismatch|varint|overruns"):
        parse_tfrecord(3, bytes(bad_payload))

    with pytest.raises(ValueError, match="truncated"):
        parse_tfrecord(3, raw[:-2])

    with pytest.raises(ValueError, match="empty"):
        parse_tfrecord(3, b"")


def test_tfrecord_example_skips_unknown_fields():
    """The wire walk must skip features and fields it does not know —
    forward compatibility is the point of the wire format."""
    from open_source_etl_spark.ingest.tfrecord import (
        _len_field,
        _varint,
        make_example_bytes,
        parse_example,
    )

    base = make_example_bytes("hello", [5])
    # append an unknown varint field 9 and an unknown LEN field 12 at
    # the Example level
    extended = base + _varint((9 << 3) | 0) + _varint(42) + _len_field(
        12, b"future"
    )
    assert parse_example(extended) == ("hello", [5])


def test_avro_container_roundtrip_and_rejects_corruption():
    """The Avro walker verifies what it claims: per-block sync markers,
    codec dispatch, exact byte consumption, and the generic decode —
    each corruption fires at its own site."""
    import json
    import struct

    import pytest

    from open_source_etl_spark.ingest.avro import (
        AVRO_SCHEMA,
        avro_body,
        avro_n_records,
        make_avro_bytes,
        parse_avro,
        write_long,
    )

    text = "the quick brown fox jumps over the lazy dog " * 3
    # null / deflate / bzip2 / xz / snappy codecs (doc % 5)
    for doc in (5, 6, 7, 8, 9):
        raw = make_avro_bytes(doc, text)
        n = avro_n_records(doc)
        exp_chars = sum(
            len(avro_body(text, j)) for j in range(n) if (doc + j) % 5
        )
        got = parse_avro(doc, raw)
        assert got[0] == n and got[1] == (n + 1) // 2
        assert got[3] == exp_chars

    raw = make_avro_bytes(6, text)  # deflate doc (6 % 5 = 1)

    bad_magic = b"Obj\x02" + raw[4:]
    with pytest.raises(ValueError, match="not an avro container"):
        parse_avro(6, bad_magic)

    flipped_sync = bytearray(raw)
    flipped_sync[-1] ^= 0xFF  # final block's sync marker
    with pytest.raises(ValueError, match="sync marker mismatch"):
        parse_avro(6, bytes(flipped_sync))

    bad_deflate = bytearray(raw)
    bad_deflate[-20] ^= 0xFF  # inside the final compressed block
    with pytest.raises(ValueError, match="deflate|sync|consumed|varint|overruns"):
        parse_avro(6, bytes(bad_deflate))

    with pytest.raises(ValueError, match="truncated|overruns"):
        parse_avro(6, raw[:-10])

    # a flipped byte inside a bzip2 / xz / snappy block fails as a
    # corrupt stream (bad stream, CRC32 mismatch, or downstream as
    # desynced records), never as garbage
    for doc, codec in ((7, "bzip2"), (8, "xz"), (9, "snappy")):
        braw = bytearray(make_avro_bytes(doc, text))
        braw[-20] ^= 0xFF
        with pytest.raises(
            ValueError,
            match=f"{codec}|sync|consumed|varint|overruns|CRC32",
        ):
            parse_avro(doc, bytes(braw))

    # unknown codec: rebuild the header with avro.codec = zstandard
    # (snappy now decodes through ingest/snappy.py)
    header = bytearray(b"Obj\x01")
    header += write_long(2)
    for k, v in (
        ("avro.schema", json.dumps(AVRO_SCHEMA).encode()),
        ("avro.codec", b"zstandard"),
    ):
        header += write_long(len(k)) + k.encode()
        header += write_long(len(v)) + v
    header += write_long(0) + bytes(16)
    header += write_long(1) + write_long(1) + b"\x00" + bytes(16)
    with pytest.raises(NotImplementedError, match="zstandard"):
        parse_avro(1, bytes(header))

    # block count lying about its records: one record encoded, two
    # claimed -> the decode must fail, not fabricate
    doc0 = make_avro_bytes(0, text)  # null codec, 2 records in 1 block
    lying = bytearray()
    # header of doc0 ends after magic + meta + 16-byte sync; find the
    # first block by re-walking: meta map is deterministic here
    from open_source_etl_spark.ingest.avro import _Reader

    r = _Reader(doc0, 4)
    while True:
        c = r.long()
        if c == 0:
            break
        for _ in range(c):
            r.take(r.long())
            r.take(r.long())
    sync_at = r.pos
    header_end = sync_at + 16
    r2 = _Reader(doc0, header_end)
    count = r2.long()
    size = r2.long()
    assert count == 2
    lying += doc0[:header_end]
    lying += write_long(3) + write_long(size)  # claim 3 records
    lying += doc0[r2.pos : r2.pos + size + 16]
    with pytest.raises(ValueError, match="overruns|truncated|consumed"):
        parse_avro(0, bytes(lying))


def test_gzip_jsonl_rejects_corruption():
    """The gzip walker verifies its trailers and flags: CRC-32 and
    ISIZE mismatches, reserved FLG bits, a non-deflate CM, an
    unterminated FNAME, and a truncated trailer all raise."""
    import struct

    import pytest

    from open_source_etl_spark.ingest.archives import (
        make_gzip_jsonl_bytes,
        parse_gzip_jsonl,
    )

    text = "some sample text for the shards " * 4
    raw = make_gzip_jsonl_bytes(4, text)  # doc 4: 2 members

    # member 0 has FEXTRA (0 % 3 == 0) but no FNAME (0 % 2 == 0):
    # header is 10 + 2 + 8 bytes, deflate follows — flip a CRC byte
    # by locating the SECOND member's magic and backing up 8 bytes
    second = raw.index(b"\x1f\x8b", 2)
    bad_crc = bytearray(raw)
    bad_crc[second - 8] ^= 0xFF
    with pytest.raises(ValueError, match="CRC-32"):
        parse_gzip_jsonl(4, bytes(bad_crc))

    bad_isize = bytearray(raw)
    bad_isize[second - 4] ^= 0xFF
    with pytest.raises(ValueError, match="ISIZE"):
        parse_gzip_jsonl(4, bytes(bad_isize))

    reserved = bytearray(raw)
    reserved[3] |= 0x80
    with pytest.raises(ValueError, match="reserved gzip FLG"):
        parse_gzip_jsonl(4, bytes(reserved))

    lzw_cm = bytearray(raw)
    lzw_cm[2] = 1
    with pytest.raises(NotImplementedError, match="method 1"):
        parse_gzip_jsonl(4, bytes(lzw_cm))

    with pytest.raises(ValueError, match="truncated|unterminated"):
        parse_gzip_jsonl(4, raw[:-5])

    # a reader that stops after member 0's trailer undercounts: the
    # walker must see BOTH members of doc 4's concatenated file
    assert parse_gzip_jsonl(4, raw)[0] == 2


def test_zip_streamed_member_descriptor_verified():
    """Member 2 is written streaming-style (flag bit 3, zeroed local
    fields, trailing data descriptor): it must extract, and a
    descriptor that disagrees with the central directory must raise."""
    import struct

    import pytest

    from open_source_etl_spark.ingest.archives import (
        archive_n_members,
        make_zip_bytes,
        parse_zip,
    )

    doc = 3  # 2 + 3 % 3 = 2 members... need k=2: use doc 4 (3 members)
    doc = 4
    assert archive_n_members(doc) == 3
    raw = make_zip_bytes(doc, "stream me please " * 8)
    n, _c, _t = parse_zip(doc, raw)
    assert n == 3
    # the streamed member's local header really is zeroed
    desc_at = raw.index(b"PK\x07\x08")
    crc, csize, usize = struct.unpack_from("<III", raw, desc_at + 4)
    assert usize > 0
    bad = bytearray(raw)
    struct.pack_into("<I", bad, desc_at + 4, crc ^ 0xFF)
    with pytest.raises(ValueError, match="data descriptor disagrees"):
        parse_zip(doc, bytes(bad))


def test_tar_longlink_names_applied_and_verified():
    """Odd members arrive via GNU @LongLink: the walker must consume
    the 'L' entry without counting it, cross-check the name prefix,
    and reject a dangling 'L' at end of archive."""
    import pytest

    from open_source_etl_spark.ingest.archives import (
        _tar_header,
        archive_n_members,
        make_tar_bytes,
        parse_tar,
        tar_long_name,
    )

    doc = 4
    raw = make_tar_bytes(doc, "0123456789" * 20)
    assert b"././@LongLink" in raw
    assert parse_tar(doc, raw)[0] == archive_n_members(doc)
    assert len(tar_long_name(doc, 1)) > 100

    # prefix disagreement: corrupt the longname data block's first byte
    at = raw.index(b"././@LongLink") + 512
    bad = bytearray(raw)
    bad[at] ^= 0x01
    with pytest.raises(ValueError, match="disagrees|checksum"):
        parse_tar(doc, bytes(bad))

    # dangling L entry with no member after it
    name = b"some/very/long/name\x00"
    dangling = (
        _tar_header(b"././@LongLink", len(name), "L")
        + name + bytes(512 - len(name))
        + bytes(1024)
    )
    with pytest.raises(ValueError, match="dangling @LongLink"):
        parse_tar(0, dangling)


def test_zip64_sentinels_resolved_and_rejected():
    """Every fourth doc's ZIP is ZIP64: EOCD sentinels resolve through
    the locator + ZIP64 EOCD record and member 1's sentinel
    sizes/offset through the 0x0001 extra; stripping the locator or
    the extra raises at the declared sites."""
    import pytest

    from open_source_etl_spark.ingest.archives import (
        archive_member_text,
        make_zip_bytes,
        parse_zip,
    )

    text = "zip sixty four needs big offsets " * 6
    raw = make_zip_bytes(4, text)  # 4 % 4 == 0 -> ZIP64, 3 members
    assert b"PK\x06\x06" in raw and b"PK\x06\x07" in raw
    assert raw[-22:-18] == b"PK\x05\x06"
    n, chars, total = parse_zip(4, raw)
    assert n == 3
    assert chars == sum(len(archive_member_text(text, k)) for k in range(3))

    # classic form of the same doc content parses identically
    classic = make_zip_bytes(5, text)
    assert b"PK\x06\x06" not in classic

    # cut the locator + zip64 EOCD out: sentinels now dangle
    z64_at = raw.index(b"PK\x06\x06")
    no_locator = raw[:z64_at] + raw[-22:]
    with pytest.raises(ValueError, match="ZIP64 locator"):
        parse_zip(4, no_locator)

    # corrupt the central extra's field id: member sentinels unresolved
    bad = bytearray(raw)
    at = raw.rindex(b"\x01\x00\x18\x00")
    bad[at] = 0x02
    with pytest.raises(ValueError, match="without a ZIP64 extra"):
        parse_zip(4, bytes(bad))


def test_tar_pax_records_applied_and_verified():
    """Member 2 arrives behind a pax 'x' extended header: the
    length-verified records parse, the UTF-8 path override must agree
    with the member's truncated header name, and the size record must
    agree with the octal field."""
    import pytest

    from open_source_etl_spark.ingest.archives import (
        _pax_data,
        _parse_pax,
        make_tar_bytes,
        parse_tar,
        tar_pax_name,
    )

    text = "pax extended headers for modern tars " * 5
    raw = make_tar_bytes(4, text)  # 3 members: k=2 is pax'd
    n, chars, blocks = parse_tar(4, raw)
    assert n == 3

    # record codec: self-including lengths round-trip, including the
    # boundary where the length's digit count changes
    recs = {"path": tar_pax_name(4, 2), "size": "74", "x" * 80: "y" * 10}
    assert _parse_pax(4, _pax_data(recs)) == recs

    # size record disagreeing with the octal field raises
    data = _pax_data({"size": "9999"})
    import re
    hdr_at = raw.index(b"./PaxHeaders.0/part")
    with pytest.raises(ValueError, match="pax size"):
        # rebuild the archive with a lying size record
        from open_source_etl_spark.ingest.archives import _tar_header
        lying = bytearray(raw[:hdr_at])
        lying += _tar_header(b"./PaxHeaders.0/part", len(data), "x")
        lying += data + bytes((512 - len(data) % 512) % 512)
        # the original member header follows the original pax blocks
        orig_pax_len = 512 + 512  # header + one record block
        lying += raw[hdr_at + orig_pax_len:]
        parse_tar(4, bytes(lying))

    # a pax header with no member after it raises
    dangling = raw[:hdr_at + 1024] + bytes(1024)
    with pytest.raises(ValueError, match="dangling pax"):
        parse_tar(4, dangling)

    # 'g' global records are a declared stub
    g_hdr = bytearray(raw)
    from open_source_etl_spark.ingest.archives import _tar_header as th
    g = th(b"./PaxHeaders.0/part", 0, "g")
    g_hdr[hdr_at:hdr_at + 512] = g
    g_hdr = g_hdr[:hdr_at + 512] + raw[hdr_at + 1024:]  # drop record block
    with pytest.raises(NotImplementedError, match="global"):
        parse_tar(4, bytes(g_hdr))


def test_gzip_fhcrc_verified():
    """Members with FHCRC carry a real header CRC-16 (low 16 bits of
    CRC-32 over the header bytes, RFC 1952 §2.3.1): the walker
    verifies it, and a flipped header bit after the CRC was computed
    raises at the FHCRC site (not at the body CRC-32)."""
    import struct
    import zlib

    import pytest

    from open_source_etl_spark.ingest.archives import (
        make_gzip_jsonl_bytes,
        parse_gzip_jsonl,
    )

    text = "fhcrc header checksums for real-world gzip " * 4
    raw = make_gzip_jsonl_bytes(3, text)  # member 0: (3+0)%2=1 -> FHCRC
    assert raw[3] & 0x02, "fixture member 0 must set FHCRC"
    n, lines, ids, chars = parse_gzip_jsonl(3, raw)
    assert n == 1 + 3 % 3

    # flip a bit in MTIME (covered by the header CRC)
    bad = bytearray(raw)
    bad[4] ^= 0x01
    with pytest.raises(ValueError, match="header CRC-16"):
        parse_gzip_jsonl(3, bytes(bad))

    # truncating the stream inside the CRC field raises the
    # truncated-FHCRC guard on a hand-built minimal member
    hdr = bytes((0x1F, 0x8B, 8, 0x02, 0, 0, 0, 0, 0, 255))
    short = hdr + struct.pack("<H", zlib.crc32(hdr) & 0xFFFF)[:1]
    with pytest.raises(ValueError, match="truncated FHCRC"):
        parse_gzip_jsonl(0, short)


def test_avro_schema_resolution():
    """The Avro 1.11 resolution rules, exercised directly: by-name
    field matching in writer byte order, int->long and float->double
    promotion, string<->bytes, retired-field skipping, defaults for
    reader-only fields, reader-union matching — and the failure modes
    (missing default, incompatible types)."""
    import pytest

    from open_source_etl_spark.ingest.avro import (
        AVRO_READER_V2,
        AVRO_WRITER_V1,
        _Reader,
        _write_str,
        make_avro_v1_bytes,
        parse_avro_evolved,
        resolve_decode,
        struct,
        write_long,
    )

    # one V1 record: id=7, body="hi", tags=[3, 4], score=2.25
    buf = (
        write_long(7)
        + write_long(1) + _write_str("hi")
        + write_long(2) + write_long(3) + write_long(4) + write_long(0)
        + struct.pack("<f", 2.25)
    )
    rec = resolve_decode(_Reader(buf), AVRO_WRITER_V1, AVRO_READER_V2)
    assert rec == {"lang": "en", "score": 2.25, "id": 7, "body": "hi"}
    assert isinstance(rec["score"], float)

    # reader-only field WITHOUT a default must raise
    no_default = {
        "type": "record", "name": "DocV1",
        "fields": [{"name": "id", "type": "long"},
                   {"name": "body", "type": ["null", "string"]},
                   {"name": "tags",
                    "type": {"type": "array", "items": "long"}},
                   {"name": "score", "type": "double"},
                   {"name": "missing", "type": "string"}],
    }
    with pytest.raises(ValueError, match="no default"):
        resolve_decode(_Reader(buf), AVRO_WRITER_V1, no_default)

    # demotion long->int is NOT a legal resolution
    demote = {
        "type": "record", "name": "DocV1",
        "fields": [{"name": "id", "type": "long"},
                   {"name": "body", "type": "int"}],
    }
    writer = {
        "type": "record", "name": "DocV1",
        "fields": [{"name": "id", "type": "int"},
                   {"name": "body", "type": "long"}],
    }
    with pytest.raises(ValueError, match="does not resolve"):
        resolve_decode(_Reader(write_long(1) + write_long(2)),
                       writer, demote)

    # string -> bytes promotion
    sb = resolve_decode(
        _Reader(_write_str("abc")), "string", "bytes"
    )
    assert sb == b"abc"

    # a container whose schema name is not the expected V1 lineage
    from open_source_etl_spark.ingest.avro import make_avro_bytes
    other = make_avro_bytes(2, "x" * 80)  # schema name "Doc"
    with pytest.raises(ValueError, match="not the V1 writer"):
        parse_avro_evolved(2, other)

    # end-to-end: every record resolves, lang defaults everywhere
    raw = make_avro_v1_bytes(5, "y" * 120)
    n, ids, chars, nulls, q, lang = parse_avro_evolved(5, raw)
    assert n == lang == 2 + 5 % 3


def test_pdf_extracts_exact_text_and_rejects_corruption():
    """The PDF walk recovers the exact page text (escapes undone) via
    the xref table, not keyword scanning — the uncompressed trap
    comment adds a literal '7 0 obj' the object count must not see —
    and the integrity checks fire: a /Length that misses endstream, a
    corrupt Flate stream, an /Encrypt trailer, a wrong xref offset,
    and a digit at the startxref target (a PDF 1.5 cross-reference
    stream) raising the declared stub."""
    import re

    import pytest

    from open_source_etl_spark.ingest.pdf import (
        _STRING_RE,
        _unescape,
        make_pdf_bytes,
        parse_pdf,
        pdf_n_pages,
        pdf_page_text,
    )

    text = "pa\\k my box with (five) dozen liquor jugs! " * 4
    doc = 6
    raw = make_pdf_bytes(doc, text)

    # exact text recovery: run the production literal/unescape pair on
    # page 0's raw stream (page 0 is uncompressed) and pin the string
    first_stream = raw[raw.index(b"stream\n") + 7 :]
    lit = _STRING_RE.search(first_stream).group(0)
    got = _unescape(lit[1 : lit.rindex(b")")])
    assert got == pdf_page_text(text, 0)
    assert got.startswith("(") and "\\" in got  # escapes really undone

    n_obj, n_pages, *_ = parse_pdf(doc, raw)
    assert n_pages == pdf_n_pages(doc)
    assert n_obj == 2 + 2 * n_pages
    # trap present, and it names a phantom object (one past the last)
    trap = f"% {2 + 2 * n_pages + 1} 0 obj".encode()
    assert trap in raw

    # stream payloads are sliced by /Length, never bounded by keyword
    # scans: a payload embedding the literal bytes "endobj"/"stream"
    # (routine in FlateDecode output) must still parse.  Build a
    # 1-page PDF whose uncompressed content stream carries both.
    payload = b"BT /F1 12 Tf 72 720 Td (hi) Tj ET % endobj stream x"
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
        b"/MediaBox [0 0 612 792] >>",
        f"<< /Length {len(payload)} >>".encode()
        + b"\nstream\n" + payload + b"\nendstream",
    ]
    out = bytearray(b"%PDF-1.4\n")
    offs = []
    for i, o in enumerate(objs, 1):
        offs.append(len(out))
        out += f"{i} 0 obj\n".encode() + o + b"\nendobj\n"
    xref_at = len(out)
    out += f"xref\n0 {len(objs) + 1}\n".encode() + b"0000000000 65535 f \n"
    for off in offs:
        out += f"{off:010d} 00000 n \n".encode()
    out += (
        f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\n"
        f"startxref\n{xref_at}\n%%EOF".encode()
    )
    assert parse_pdf(0, bytes(out)) == (4, 1, 1, 0, 2)

    bad_len = re.sub(
        rb"/Length (\d+)",
        lambda m: b"/Length " + str(int(m.group(1)) + 2).encode(),
        raw, count=1,
    )
    with pytest.raises(ValueError, match="endstream|shorter"):
        parse_pdf(doc, bad_len)

    flate_at = raw.index(b"/Filter /FlateDecode")
    stream_at = raw.index(b"stream\n", flate_at) + 7
    corrupt = bytearray(raw)
    corrupt[stream_at + 4] ^= 0xFF
    with pytest.raises(ValueError, match="bad Flate"):
        parse_pdf(doc, bytes(corrupt))

    encrypted = raw.replace(b"/Root 1 0 R", b"/Root 1 0 R /Encrypt 9 0 R")
    # the trailer grew: the startxref offset is unchanged (trailer sits
    # after the xref entries), so only the dict contents differ
    with pytest.raises(NotImplementedError, match="encrypted"):
        parse_pdf(doc, encrypted)

    wrong_off = re.sub(
        rb"\n0000000009 00000 n", b"\n0000000010 00000 n", raw, count=1
    )
    if wrong_off == raw:  # first object offset is doc-dependent
        m = re.search(rb"\n(\d{10}) 00000 n", raw)
        bumped = str(int(m.group(1)) + 1).zfill(10).encode()
        wrong_off = raw[: m.start(1)] + bumped + raw[m.end(1) :]
    with pytest.raises(ValueError, match="wrong place"):
        parse_pdf(doc, wrong_off)

    xref_stream = re.sub(
        rb"startxref\s+(\d+)", b"startxref\n9", raw
    )
    with pytest.raises(Exception, match="cross-reference|garbage"):
        parse_pdf(doc, xref_stream)


def test_subtitles_parse_both_dialects_and_reject_malformed():
    """One parser, two dialects: SRT (comma, numbered cues) and WebVTT
    (dot, unnumbered) parse to identical shapes; a dot separator in an
    SRT file, out-of-sequence cue numbers, a cue ending before it
    starts, and a cue with no text all raise."""
    import pytest

    from open_source_etl_spark.ingest.pdf import (
        make_subtitle_bytes,
        parse_subtitles,
    )

    text = "words for cues " * 12
    srt = make_subtitle_bytes(2, text)   # even: SRT
    vtt = make_subtitle_bytes(3, text)   # odd: WebVTT
    assert parse_subtitles(2, srt)[0] == 0
    assert parse_subtitles(3, vtt)[0] == 1
    assert b"WEBVTT" in vtt and b"WEBVTT" not in srt
    assert b"," in srt.split(b"\n")[1]  # SRT comma separator

    dotted = srt.replace(b",", b".", 2)  # first cue's separators
    with pytest.raises(ValueError, match="malformed cue timing"):
        parse_subtitles(2, dotted)

    renumbered = srt.replace(b"\n2\n", b"\n5\n", 1)
    with pytest.raises(ValueError, match="out of sequence"):
        parse_subtitles(2, renumbered)

    # swap a cue's start/end hours so it ends before it starts
    lines = srt.decode().split("\n")
    ts_i = next(i for i, l in enumerate(lines) if "-->" in l)
    a, b = lines[ts_i].split(" --> ")
    lines[ts_i] = f"{b} --> {a}"  # end (smaller) now follows start
    with pytest.raises(ValueError, match="ends before|out of order"):
        parse_subtitles(2, "\n".join(lines).encode())

    # drop the first cue's text lines entirely
    empty = srt.decode().split("\n")
    del empty[ts_i + 1 : ts_i + 2]
    joined = "\n".join(empty[: ts_i + 1] + [""] + empty[ts_i + 1 :])
    with pytest.raises(ValueError, match="no text lines"):
        parse_subtitles(2, joined.encode())


def test_zstd_decodes_and_rejects_corruption():
    """RFC 8878 zstd decode: the predefined FSE distributions pass
    their structural gate (each normalizes to exactly
    1 << accuracy_log counting -1 entries as one slot), XXH64 matches
    the published test vectors, the full decode (Huffman literals,
    FSE sequences, repeat offsets, 4-stream splits) reproduces the
    INDEPENDENTLY computed closed-form content, and the integrity
    checks fire: a flipped content byte breaks the XXH64 checksum, a
    bad magic rejects, reserved FHD bits reject, a dictionary ID hits
    the declared boundary, and a corrupted Huffman weight header
    (FSE-compressed form) hits its declared boundary.  The FSE table
    DESCRIPTION codec (accuracy_log + truncated-binary counts +
    zero-run repeat flags) round-trips and enforces exact
    normalization."""
    import pytest

    from open_source_etl_spark.ingest.zstd import (
        ZSTD_LL_ACCLOG,
        ZSTD_LL_DIST,
        ZSTD_ML_ACCLOG,
        ZSTD_ML_DIST,
        ZSTD_OF_ACCLOG,
        ZSTD_OF_DIST,
        _fse_decode_table,
        make_zstd_bytes,
        parse_zstd,
        xxh64,
        zstd_block3_content,
        zstd_n_frames,
        zstd_raw_payload,
        zstd_rle_fields,
    )

    # structural gate on the spec-literal distributions
    for dist, log in (
        (ZSTD_LL_DIST, ZSTD_LL_ACCLOG),
        (ZSTD_ML_DIST, ZSTD_ML_ACCLOG),
        (ZSTD_OF_DIST, ZSTD_OF_ACCLOG),
    ):
        assert sum(f if f > 0 else 1 for f in dist) == 1 << log
        tab = _fse_decode_table(dist, log)
        assert len(tab) == 1 << log
        # every baseline window must stay inside the state space
        for _s, nb, base in tab:
            assert 0 <= base and base + (1 << nb) <= (1 << log)

    # FSE description codec: truncated-binary counts round-trip,
    # zero-run repeat flags chain, and the budget is enforced exactly
    from open_source_etl_spark.ingest.zstd import (
        _read_fse_description,
        _write_fse_description,
    )

    for dist in ([10, 0, 0, 12, -1, 0, 9], [2] + [0] * 8 + [30],
                 [-1, -1, 30]):
        blob = _write_fse_description(dist, 5)
        got, log, _end = _read_fse_description(0, blob, 0, 9)
        assert got == dist and log == 5
    with pytest.raises(ValueError, match="accuracy_log"):
        _read_fse_description(0, _write_fse_description([32], 5), 0, 4)

    # XXH64 published vectors
    assert xxh64(b"") == 0xEF46DB3751D8E999
    assert xxh64(b"a") == 0xD24EC4F1A98C6E5B
    assert xxh64(b"abc") == 0x44BC2CF5AD770999

    # full decode matches independently computed content
    from open_source_etl_spark.ingest.zstd import (
        zstd_block4_content,
        zstd_has_block4 as _has4,
    )

    for d in (0, 1, 2, 3, 5, 6, 7, 10):
        raw = make_zstd_bytes(d)
        nf, _ns, nb, cb, cs, _nck = parse_zstd(d, raw)
        want_cb = want_cs = want_nb = 0
        for i in range(zstd_n_frames(d)):
            p = zstd_raw_payload(d, i)
            b, r = zstd_rle_fields(d, i)
            c3 = zstd_block3_content(d, i, len(p) + r)
            want_cb += len(p) + r + len(c3)
            want_cs += sum(p) + b * r + sum(c3)
            want_nb += 3
            if _has4(d, i):
                c4 = zstd_block4_content(d, i)
                want_cb += len(c4)
                want_cs += sum(c4)
                want_nb += 1
        assert nf == zstd_n_frames(d) and nb == want_nb
        assert (cb, cs) == (want_cb, want_cs), d

    # doc 2 frame 0 carries a checksum: flip a raw-payload byte
    raw = bytearray(make_zstd_bytes(2))
    at = 4 + 1 + 1 + 4 + 3  # magic, fhd, wd, fcs, block header
    raw[at] ^= 0xFF
    with pytest.raises(ValueError, match="XXH64"):
        parse_zstd(2, bytes(raw))

    raw = bytearray(make_zstd_bytes(1))
    raw[0] ^= 0xFF
    with pytest.raises(ValueError, match="magic"):
        parse_zstd(1, bytes(raw))

    # reserved FHD bit set
    raw = bytearray(make_zstd_bytes(1))
    raw[4] |= 0x08
    with pytest.raises(ValueError, match="reserved"):
        parse_zstd(1, bytes(raw))

    # dictionary-ID flag with no dictionary registry -> rejects
    # (dictionary-keyed decode itself is covered by
    # test_zstd_dictionary_frames)
    raw = bytearray(make_zstd_bytes(1))
    raw[4] |= 0x01
    with pytest.raises(ValueError, match="dictionary"):
        parse_zstd(1, bytes(raw))

    # FSE-compressed Huffman weights (header byte < 128): fixture
    # frames with (doc+i) % 5 == 1 ship them — decoded through the
    # table description + two-state interleaved stream (RFC 4.2.1.2).
    # The weight set differs ([2,1,...] vs all-1) but the literal
    # VALUES are unchanged, so the closed-form content check above
    # (doc 1 frame 0 has k=1) already proved the decode.  The
    # two-state codec round-trips standalone:
    from open_source_etl_spark.ingest.zstd import (
        _WEIGHTS_FSE_ACCLOG,
        _WEIGHTS_FSE_DIST,
        _fse_decode_interleaved,
        _fse_encode_interleaved,
    )

    wtab = _fse_decode_table(_WEIGHTS_FSE_DIST, _WEIGHTS_FSE_ACCLOG)
    for syms in ([2, 1, 1, 1, 1, 1, 1], [1, 2], [1, 1, 2, 1, 2]):
        blob = _fse_encode_interleaved(syms, wtab, _WEIGHTS_FSE_ACCLOG)
        assert _fse_decode_interleaved(
            0, blob, wtab, _WEIGHTS_FSE_ACCLOG
        ) == syms
    # corrupting the compressed-weight header size overruns: doc 1
    # frame 0 (k=1): magic+fhd+wd+fcs (10), raw block (3+21), RLE
    # (3+1), block3 header (3), 1-stream literals header (3), then
    # the FSE-weight header byte
    raw = bytearray(make_zstd_bytes(1))
    th_at = 10 + 3 + len(zstd_raw_payload(1, 0)) + 4 + 3 + 3
    assert raw[th_at] < 128  # the compressed-weights form
    raw[th_at] = 90
    with pytest.raises(Exception, match="overrun|exhaust|sentinel"):
        parse_zstd(1, bytes(raw))

    # treeless + repeat-mode second blocks exist in the corpus and
    # decode through the FRAME state; doc 3 frame 0 has one
    from open_source_etl_spark.ingest.zstd import zstd_has_block4

    assert zstd_has_block4(3, 0)
    raw3 = make_zstd_bytes(3)
    assert parse_zstd(3, raw3)[2] >= 4  # block count includes block 4

    # a treeless block with NO prior table in the frame rejects: make
    # the FIRST compressed block treeless by patching its literals
    # type bits (2 -> 3) — doc 5 frame 0 has no block 4
    raw5 = bytearray(make_zstd_bytes(5))
    # literals section starts right after the 3-byte header of the
    # third block: magic(4)+fhd(1)+wd(1)+fcs(4), raw block (3+raw_n),
    # RLE block (3+1), block header (3)
    from open_source_etl_spark.ingest.zstd import zstd_raw_payload

    lit_at = 10 + 3 + len(zstd_raw_payload(5, 0)) + 4 + 3
    assert raw5[lit_at] & 3 == 2
    raw5[lit_at] |= 3
    with pytest.raises(Exception, match="treeless|prior"):
        parse_zstd(5, bytes(raw5))


def test_zstd_dictionary_frames():
    """RFC 8878 §5 dictionary frames: formatted dictionaries load
    entropy tables + recent offsets + content, raw-content
    dictionaries provide window bytes only; frames decode treeless
    literals and repeat-mode sequences entirely from dictionary
    state, matches reach into the dictionary window, dict-seeded
    repeat offsets resolve, and XXH64 checksums verify.  Rejections:
    an unreferenced dictionary, an ID-mismatched formatted
    dictionary, and an out-of-range recent offset."""
    import struct

    import pytest

    from open_source_etl_spark.ingest.zstd import (
        DICT_MAGIC,
        _load_dictionary,
        make_zstd_dict_bytes,
        make_zstd_dictionary,
        parse_zstd,
        zstd_dict_content,
        zstd_dict_frame0_content,
        zstd_dict_frame1_content,
        zstd_dict_ids,
        zstd_dicts,
    )

    for d in (0, 1, 4, 5, 7, 12, 29, 49):
        used: list[int] = []
        nf, _ns, nb, cb, cs, nck = parse_zstd(
            d, make_zstd_dict_bytes(d), dicts=zstd_dicts(d), used_dids=used
        )
        c0 = zstd_dict_frame0_content(d)
        c1 = zstd_dict_frame1_content(d)
        assert (nf, nb, nck) == (2, 2, 2)
        assert cb == len(c0) + len(c1)
        assert cs == sum(c0) + sum(c1)
        assert used == list(zstd_dict_ids(d))

    # formatted dictionaries parse their entropy + offsets + content
    d1, d2 = zstd_dict_ids(3)
    dd = _load_dictionary(3, make_zstd_dictionary(d1))
    assert dd["id"] == d1
    assert dd["content"] == zstd_dict_content(d1)
    assert dd["reps"][0] == len(dd["content"])
    assert dd["huff"] is not None and dd["tables"] is not None
    rawd = _load_dictionary(3, make_zstd_dictionary(d2))
    assert rawd["id"] is None and rawd["huff"] is None
    assert rawd["content"] == zstd_dict_content(d2)

    # frame referencing a dictionary that was not provided
    raw, dicts = make_zstd_dict_bytes(3), zstd_dicts(3)
    missing = dict(dicts)
    missing.pop(d1)
    with pytest.raises(ValueError, match="not provided"):
        parse_zstd(3, raw, dicts=missing)
    with pytest.raises(ValueError, match="not provided"):
        parse_zstd(3, raw)  # no dicts at all

    # ID-mismatched formatted dictionary rejects
    blob = bytearray(make_zstd_dictionary(d1))
    struct.pack_into("<I", blob, 4, d1 + 1)
    with pytest.raises(ValueError, match="mismatched"):
        parse_zstd(3, raw, dicts={**dicts, d1: bytes(blob)})

    # recent offset outside the dictionary content rejects
    blob = bytearray(make_zstd_dictionary(d1))
    rep_at = len(blob) - len(zstd_dict_content(d1)) - 12
    struct.pack_into("<I", blob, rep_at, 100000)
    with pytest.raises(ValueError, match="repeat offset"):
        parse_zstd(3, raw, dicts={**dicts, d1: bytes(blob)})


def test_lz4_decodes_and_rejects_corruption():
    """LZ4 frame decode: XXH32 matches the published vectors, the
    decode reproduces the independently computed closed-form content
    (incl. overlap matches and block-linked windows), and the
    integrity layer fires — header-checksum, block-checksum, and
    content-checksum mismatches, a bad magic, a reserved FLG bit, a
    match before the window, and the dictionary-ID boundary."""
    import struct

    import pytest

    from open_source_etl_spark.ingest.lz4 import (
        lz4_block1_content,
        lz4_block2_content,
        lz4_decompress_block,
        lz4_n_frames,
        make_lz4_bytes,
        parse_lz4,
        xxh32,
    )

    assert xxh32(b"") == 0x02CC5D05

    for d in (0, 1, 2, 3, 5, 8, 11):
        raw = make_lz4_bytes(d)
        nf, ns, nb, cb, cs, _nck = parse_lz4(d, raw)
        want_cb = want_cs = 0
        for i in range(lz4_n_frames(d)):
            c = lz4_block1_content(d, i) + lz4_block2_content(d, i)
            want_cb += len(c)
            want_cs += sum(c)
        assert (nf, nb) == (lz4_n_frames(d), 2 * lz4_n_frames(d))
        assert (cb, cs) == (want_cb, want_cs), d
        assert ns == (1 if d % 4 == 1 else 0)

    # overlap copies: offset 1 against a 1-byte window RLEs
    blk = bytes((0x10 | 11, 0x41, 0x01, 0x00, 0x00))
    assert lz4_decompress_block(0, blk) == b"A" * 16

    # match before the window rejects
    blk = bytes((0x10 | 0, 0x41, 0x05, 0x00, 0x00))
    with pytest.raises(ValueError, match="before"):
        lz4_decompress_block(0, blk)

    raw = bytearray(make_lz4_bytes(0))
    raw[0] ^= 0xFF
    with pytest.raises(ValueError, match="magic"):
        parse_lz4(0, bytes(raw))

    # header checksum: flip the FLG's content-checksum bit
    raw = bytearray(make_lz4_bytes(0))
    raw[4] ^= 0x04
    with pytest.raises(ValueError, match="header checksum"):
        parse_lz4(0, bytes(raw))

    # reserved FLG bit — patch the HC byte so only the reserved bit
    # trips (frame 0 of doc 0 has no content size: HC at offset 6)
    raw = bytearray(make_lz4_bytes(0))
    raw[4] |= 0x02
    raw[6] = (xxh32(bytes(raw[4:6])) >> 8) & 0xFF
    with pytest.raises(ValueError, match="reserved FLG"):
        parse_lz4(0, bytes(raw))

    # dictionary-ID flag -> declared boundary (same HC re-fix)
    raw = bytearray(make_lz4_bytes(0))
    raw[4] |= 0x01
    raw[6] = (xxh32(bytes(raw[4:6])) >> 8) & 0xFF
    with pytest.raises(NotImplementedError, match="dictionary"):
        parse_lz4(0, bytes(raw))

    # content checksum: flip a literal byte in doc 2 frame 0 (doc 2
    # has content checksums on frame 0: k=2 even); block checksums
    # are off (2 % 3 != 0), so the flip surfaces at the content hash
    raw = bytearray(make_lz4_bytes(2))
    # frame header: magic(4) flg/bd(2) hc(1); block size(4) token(1)
    # ext(1: n_lit=30>=15) then literals
    raw[4 + 2 + 1 + 4 + 2] ^= 0xFF
    with pytest.raises(ValueError, match="content checksum"):
        parse_lz4(2, bytes(raw))

    # block checksum: doc 0 has them; flip the same literal byte
    raw = bytearray(make_lz4_bytes(0))
    raw[4 + 2 + 1 + 4 + 2] ^= 0xFF
    with pytest.raises(ValueError, match="block checksum"):
        parse_lz4(0, bytes(raw))


def test_snappy_codec_roundtrips_and_rejects():
    """The raw snappy codec: round-trips on repetitive and
    incompressible data (the greedy encoder genuinely emits copies),
    hand-built streams exercise the literal extension and all three
    copy-tag forms incl. overlap RLE, and the checks fire — length
    preamble lies, offsets outside the prefix, truncation."""
    import pytest

    from open_source_etl_spark.ingest.snappy import (
        snappy_compress,
        snappy_decompress,
    )

    for data in (
        b"", b"x", b"abcd" * 200, bytes(range(256)),
        b"the quick brown fox " * 40,
        bytes((7 * j) % 256 for j in range(4000)),
    ):
        assert snappy_decompress(0, snappy_compress(data)) == data
    # copies actually shrink repetitive data
    assert len(snappy_compress(b"abcd" * 200)) < 120

    # literal with the 1-byte length extension (len 61)
    lit = bytes(range(61))
    s = bytes((61,)) + bytes((60 << 2, 60)) + lit
    assert snappy_decompress(0, s) == lit

    # copy1 overlap RLE: literal 'Z' then copy1 len 8 offset 1
    s = bytes((9,)) + bytes((0 << 2,)) + b"Z" + bytes(
        (((8 - 4) << 2) | 1, 1)
    )
    assert snappy_decompress(0, s) == b"Z" * 9

    # copy4: literal 'AB' then copy4 len 3 offset 2
    s = bytes((5,)) + bytes((1 << 2,)) + b"AB" + bytes(
        ((2 << 2) | 3,)
    ) + (2).to_bytes(4, "little")
    assert snappy_decompress(0, s) == b"ABABA"

    # preamble lying about the length
    s = bytes((9,)) + bytes((1 << 2,)) + b"AB"
    with pytest.raises(ValueError, match="claims"):
        snappy_decompress(0, s)

    # offset outside the decoded prefix
    s = bytes((5,)) + bytes((0 << 2,)) + b"A" + bytes(
        (((8 - 4) << 2) | 1, 9)
    )
    with pytest.raises(ValueError, match="outside"):
        snappy_decompress(0, s)

    # truncated copy offset
    s = bytes((5,)) + bytes((0 << 2,)) + b"A" + bytes(((2 << 2) | 2,))
    with pytest.raises(ValueError, match="truncated"):
        snappy_decompress(0, s)


def test_warc_chunked_transfer_encoding():
    """Responses with (doc+k) % 3 == 1 ship chunked bodies (RFC 9112
    §7.1): the walker de-chunks before text extraction (totals match
    the Content-Length form's closed forms), chunk extensions are
    tolerated, and the checks fire — a bad hex size, a chunk not
    closed by CRLF, a missing terminator, and trailing bytes."""
    import pytest

    from open_source_etl_spark.ingest.warc import (
        _dechunk,
        make_warc_bytes,
        parse_warc,
    )

    text = "w" * 180
    # doc 4 page 0 is chunked ((4+0)%3==1); totals must match a doc
    # whose pages are all Content-Length (doc 6: (6+k)%3 in {0,1,2}
    # -> page 1 chunked) — i.e. both parse cleanly with the same
    # closed-form text accounting as before
    for d in (1, 4, 6, 7):
        raw = make_warc_bytes(d, text)
        n_records, n_resp, n_ok, chars, _payload = parse_warc(d, raw)
        assert n_records == 1 + 2 * (2 + d % 3)
        assert n_resp == 2 + d % 3
        assert chars > 0
    # the wire genuinely contains a chunked response
    assert b"Transfer-Encoding: chunked" in make_warc_bytes(4, text)

    # dechunk unit behavior: extensions ignored, exact reassembly
    assert _dechunk(0, b"4;ext=1\r\nWiki\r\n5\r\npedia\r\n0\r\n\r\n") \
        == b"Wikipedia"
    with pytest.raises(ValueError, match="bad chunk size"):
        _dechunk(0, b"zz\r\nxx\r\n0\r\n\r\n")
    # int(, 16) would accept all three of these; 1*HEXDIG must not
    with pytest.raises(ValueError, match="bad chunk size"):
        _dechunk(0, b"-4\r\nWiki\r\n0\r\n\r\n")
    with pytest.raises(ValueError, match="bad chunk size"):
        _dechunk(0, b"0x4\r\nWiki\r\n0\r\n\r\n")
    with pytest.raises(ValueError, match="bad chunk size"):
        _dechunk(0, b"\r\nWiki\r\n0\r\n\r\n")
    with pytest.raises(ValueError, match="not closed by CRLF"):
        _dechunk(0, b"4\r\nWikiXX0\r\n\r\n")
    with pytest.raises(ValueError, match="truncated chunk"):
        _dechunk(0, b"ff\r\nshort\r\n0\r\n\r\n")
    with pytest.raises(ValueError, match="missing a size line"):
        _dechunk(0, b"4\r\nWiki\r\n")
    with pytest.raises(ValueError, match="after the last chunk"):
        _dechunk(0, b"4\r\nWiki\r\n0\r\n\r\nEXTRA")
