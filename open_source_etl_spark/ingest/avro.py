"""Avro Object Container File plumbing — the row-oriented interchange
format data platforms hand training pipelines (alongside parquet in,
TFRecord out): header magic + metadata map + sync marker, then
count/size-framed data blocks each closed by the SAME sync marker,
records binary-encoded against the header's JSON schema.

Everything is implemented from the public Avro 1.x specification:
zigzag-varint longs, length-prefixed strings/bytes, little-endian IEEE
floats/doubles, index-prefixed unions, block-encoded arrays and maps
(including the negative-count + byteSize form), enums as int indices,
fixed as raw bytes, and the container framing itself — with block
compression per the spec's codec registry: raw-DEFLATE
(``avro.codec: deflate``) through the same stdlib inflate the ZIP/PNG
paths use, whole-stream bzip2, whole-stream xz, and ``snappy`` —
each block a raw snappy stream (decoded by the repo's own
``ingest/snappy.py``, no codec library) closed by the spec's 4-byte
BIG-endian CRC32 of the uncompressed block, VERIFIED (``zstandard``
raises at the declared boundary).  The reader decodes
GENERICALLY from the parsed writer schema; per-block sync markers and
exact byte consumption are verified, unknown codecs and unsupported
schema forms raise at the exact boundary.

Scale posture: identical to ``ingest/tfrecord.py`` — per-file
decoders on the codec host (``multimodal/host.py``), no cross-row
state; at 100 TB the decoders map over ``binaryFile`` rows of real
Avro shards.
"""

from __future__ import annotations

import bz2
import json
import lzma
import struct
import zlib

from ..multimodal.host import decoder

AVRO_MAGIC = b"Obj\x01"


def _zigzag(v: int) -> int:
    return (v << 1) ^ (v >> 63) if v < 0 else v << 1


def _unzigzag(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def write_long(v: int) -> bytes:
    n = _zigzag(v)
    out = bytearray()
    while True:
        bits = n & 0x7F
        n >>= 7
        if n:
            out.append(bits | 0x80)
        else:
            out.append(bits)
            return bytes(out)


def read_long(raw: bytes, pos: int) -> tuple[int, int]:
    n = shift = 0
    while True:
        if pos >= len(raw):
            raise ValueError("truncated avro varint")
        byte = raw[pos]
        pos += 1
        n |= (byte & 0x7F) << shift
        if not byte & 0x80:
            return _unzigzag(n), pos
        shift += 7
        if shift > 63:
            raise ValueError("avro varint overflows 64 bits")


def _write_bytes(b: bytes) -> bytes:
    return write_long(len(b)) + b


def _write_str(s: str) -> bytes:
    return _write_bytes(s.encode())


class _Reader:
    """Cursor over one decompressed block (or the header region)."""

    __slots__ = ("raw", "pos")

    def __init__(self, raw: bytes, pos: int = 0):
        self.raw = raw
        self.pos = pos

    def long(self) -> int:
        v, self.pos = read_long(self.raw, self.pos)
        return v

    def take(self, n: int) -> bytes:
        if self.pos + n > len(self.raw):
            raise ValueError("avro value overruns block")
        out = self.raw[self.pos : self.pos + n]
        self.pos += n
        return out

    def decode(self, schema) -> object:
        """Generic binary decode against a (parsed-JSON) writer schema.
        Supports every Avro 1.x type except recursive named-type
        references and logical-type annotations."""
        if isinstance(schema, list):  # union: long index, then value
            idx = self.long()
            if not 0 <= idx < len(schema):
                raise ValueError(f"union index {idx} out of range")
            return self.decode(schema[idx])
        if isinstance(schema, dict):
            typ = schema["type"]
            if typ == "record":
                return {
                    f["name"]: self.decode(f["type"])
                    for f in schema["fields"]
                }
            if typ == "array":
                out = []
                while True:
                    count = self.long()
                    if count == 0:
                        return out
                    if count < 0:  # negative count: byteSize follows
                        count = -count
                        self.long()
                    for _ in range(count):
                        out.append(self.decode(schema["items"]))
            if typ == "map":
                out = {}
                while True:
                    count = self.long()
                    if count == 0:
                        return out
                    if count < 0:
                        count = -count
                        self.long()
                    for _ in range(count):
                        key = self.take(self.long()).decode()
                        out[key] = self.decode(schema["values"])
            if typ == "enum":
                idx = self.long()
                symbols = schema["symbols"]
                if not 0 <= idx < len(symbols):
                    raise ValueError(f"enum index {idx} out of range")
                return symbols[idx]
            if typ == "fixed":
                return self.take(schema["size"])
            schema = typ  # {"type": "long"} primitive wrapper
        if schema == "null":
            return None
        if schema == "boolean":
            return self.take(1) != b"\x00"
        if schema in ("int", "long"):
            return self.long()
        if schema == "float":
            return struct.unpack("<f", self.take(4))[0]
        if schema == "double":
            return struct.unpack("<d", self.take(8))[0]
        if schema == "bytes":
            return self.take(self.long())
        if schema == "string":
            return self.take(self.long()).decode("utf-8", "strict")
        raise NotImplementedError(
            f"avro schema form {schema!r} not supported (recursive "
            "named-type references and logical types are the boundary)"
        )


# --- fixture ---------------------------------------------------------------

AVRO_SCHEMA = {
    "type": "record",
    "name": "Doc",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "body", "type": ["null", "string"]},
        {"name": "tags", "type": {"type": "array", "items": "long"}},
        {"name": "score", "type": "double"},
    ],
}

AVRO_BLOCK_RECORDS = 2


def avro_n_records(doc_id: int) -> int:
    return 2 + doc_id % 3


def avro_body(text: str, j: int) -> str:
    """Record j's body: the closed-form slice [4j, 4j + 10 + 2j)."""
    return text[4 * j : 4 * j + 10 + 2 * j]


def avro_sync(doc_id: int) -> bytes:
    return bytes((doc_id * 31 + i * 7) % 256 for i in range(16))


def avro_codec(doc_id: int) -> str:
    """The fixture's per-doc block codec: cycles the full shipped set
    (spec codec registry: null, deflate = raw DEFLATE, bzip2 and xz =
    whole compressed streams per block, snappy = raw snappy + the
    big-endian CRC32 trailer)."""
    return ("null", "deflate", "bzip2", "xz", "snappy")[doc_id % 5]


def _encode_block(codec: str, plain: bytes) -> bytes:
    if codec == "deflate":
        co = zlib.compressobj(9, zlib.DEFLATED, -15)
        return co.compress(plain) + co.flush()
    if codec == "bzip2":
        return bz2.compress(plain, 9)
    if codec == "xz":
        return lzma.compress(plain, format=lzma.FORMAT_XZ)
    if codec == "snappy":
        from .snappy import snappy_compress

        return snappy_compress(plain) + struct.pack(
            ">I", zlib.crc32(plain)
        )
    return plain


def _decode_block(doc_id: int, codec: str, data: bytes) -> bytes:
    """Dispatch one data block through the container's declared codec
    (the codec was validated against the shipped set at header time);
    corrupt streams surface as ValueError, never as garbage records."""
    try:
        if codec == "deflate":
            return zlib.decompress(data, -15)
        if codec == "bzip2":
            return bz2.decompress(data)
        if codec == "xz":
            return lzma.decompress(data, format=lzma.FORMAT_XZ)
    except (zlib.error, OSError, ValueError, lzma.LZMAError) as exc:
        raise ValueError(
            f"doc {doc_id}: bad {codec} block: {exc}"
        ) from None
    if codec == "snappy":
        from .snappy import snappy_decompress

        if len(data) < 4:
            raise ValueError(
                f"doc {doc_id}: snappy block too short for its CRC"
            )
        plain = snappy_decompress(doc_id, data[:-4])
        (want,) = struct.unpack(">I", data[-4:])
        if zlib.crc32(plain) != want:
            raise ValueError(
                f"doc {doc_id}: snappy block CRC32 mismatch"
            )
        return plain
    return data


def make_avro_bytes(doc_id: int, text: str) -> bytes:
    """One Avro Object Container File per doc: magic, metadata map
    (avro.schema JSON + avro.codec), sync marker, then records split
    into 2-record data blocks (count, post-codec size, data, sync).
    Doc k's blocks go through codec ``avro_codec(k)`` (the full
    null/deflate/bzip2/xz cycle); record
    j carries id doc*10+j, a null body every fifth record, tags
    [doc%7 + j, 2j], and score doc%100 + j/4 (binary-exact)."""
    codec = avro_codec(doc_id)
    sync = avro_sync(doc_id)
    header = bytearray(AVRO_MAGIC)
    meta = [
        ("avro.schema", json.dumps(AVRO_SCHEMA).encode()),
        ("avro.codec", codec.encode()),
    ]
    header += write_long(len(meta))
    for k, v in meta:
        header += _write_str(k) + _write_bytes(v)
    header += write_long(0)
    header += sync

    def record(j: int) -> bytes:
        out = bytearray()
        out += write_long(doc_id * 10 + j)
        if (doc_id + j) % 5 == 0:
            out += write_long(0)  # union index 0: null
        else:
            out += write_long(1) + _write_str(avro_body(text, j))
        out += write_long(2)  # array block of 2 items
        out += write_long(doc_id % 7 + j) + write_long(2 * j)
        out += write_long(0)  # array end
        out += struct.pack("<d", doc_id % 100 + j * 0.25)
        return bytes(out)

    n = avro_n_records(doc_id)
    body = bytearray(header)
    for start in range(0, n, AVRO_BLOCK_RECORDS):
        recs = [record(j) for j in range(start, min(start + AVRO_BLOCK_RECORDS, n))]
        plain = b"".join(recs)
        data = _encode_block(codec, plain)
        body += write_long(len(recs))
        body += write_long(len(data))
        body += data
        body += sync
    return bytes(body)


def parse_avro(doc_id: int, raw: bytes) -> tuple[int, int, int, int, int, int, int]:
    """(n_records, n_blocks, sum_ids, sum_body_chars, n_null_bodies,
    sum_tags, sum_score_quarters) by walking the container: header
    metadata map, codec dispatch, per-block count/size framing with
    sync-marker verification, and a generic schema-driven decode of
    every record with exact byte-consumption accounting."""
    if raw[:4] != AVRO_MAGIC:
        raise ValueError(f"doc {doc_id}: not an avro container")
    r = _Reader(raw, 4)
    meta: dict[str, bytes] = {}
    while True:
        count = r.long()
        if count == 0:
            break
        if count < 0:
            count = -count
            r.long()
        for _ in range(count):
            key = r.take(r.long()).decode()
            meta[key] = r.take(r.long())
    if "avro.schema" not in meta:
        raise ValueError(f"doc {doc_id}: container missing avro.schema")
    schema = json.loads(meta["avro.schema"])
    codec = meta.get("avro.codec", b"null").decode()
    if codec not in ("null", "deflate", "bzip2", "xz", "snappy"):
        raise NotImplementedError(
            f"avro codec {codec!r} not implemented "
            "(null/deflate/bzip2/xz/snappy only)"
        )
    sync = r.take(16)
    n_records = n_blocks = sum_ids = sum_chars = n_nulls = 0
    sum_tags = sum_q = 0
    while r.pos < len(raw):
        count = r.long()
        size = r.long()
        if count < 0 or size < 0:
            raise ValueError(f"doc {doc_id}: negative block framing")
        data = r.take(size)
        data = _decode_block(doc_id, codec, data)
        if r.take(16) != sync:
            raise ValueError(f"doc {doc_id}: sync marker mismatch")
        br = _Reader(data)
        for _ in range(count):
            rec = br.decode(schema)
            sum_ids += rec["id"]
            if rec["body"] is None:
                n_nulls += 1
            else:
                sum_chars += len(rec["body"])
            sum_tags += sum(rec["tags"])
            q = rec["score"] * 4
            if q != int(q):
                raise ValueError(
                    f"doc {doc_id}: score not quarter-exact"
                )
            sum_q += int(q)
        if br.pos != len(data):
            raise ValueError(
                f"doc {doc_id}: block count consumed {br.pos} of "
                f"{len(data)} bytes"
            )
        n_records += count
        n_blocks += 1
    if n_blocks == 0:
        raise ValueError(f"doc {doc_id}: no data blocks")
    return n_records, n_blocks, sum_ids, sum_chars, n_nulls, sum_tags, sum_q


AVRO_EXTRACT_SCHEMA = (
    "doc_id long, n_records long, n_blocks long, sum_ids long, "
    "sum_body_chars long, n_null_bodies long, sum_tags long, "
    "sum_score_quarters long"
)


@decoder(AVRO_EXTRACT_SCHEMA)
def decode_avro():
    """One Avro container per row: ``parse_avro``'s counts."""
    return lambda doc_id, raw: [parse_avro(doc_id, raw)]


# --- schema resolution (Avro 1.11 spec, "Schema Resolution") ----------------

_PROMOTIONS = {
    "int": {"int", "long", "float", "double"},
    "long": {"long", "float", "double"},
    "float": {"float", "double"},
    "double": {"double"},
    "string": {"string", "bytes"},
    "bytes": {"bytes", "string"},
}


def _type_name(schema) -> str:
    if isinstance(schema, dict):
        return schema["type"]
    return schema


def resolve_decode(r: "_Reader", writer, reader):
    """Decode one value written under ``writer`` as ``reader`` per the
    Avro 1.11 schema-resolution rules: records match fields BY NAME in
    WRITER order (writer-only fields are decoded and discarded,
    reader-only fields take their declared ``default``), primitives
    promote along int→long→float→double and string↔bytes, writer
    unions resolve branch-by-branch, and a non-union writer matches
    the first compatible reader-union branch."""
    if isinstance(writer, list):  # writer union: read the branch index
        idx = r.long()
        if not 0 <= idx < len(writer):
            raise ValueError(f"union index {idx} out of range")
        return resolve_decode(r, writer[idx], reader)
    if isinstance(reader, list):  # reader union: first compatible branch
        w_name = _type_name(writer)
        for branch in reader:
            b_name = _type_name(branch)
            if b_name == w_name or b_name in _PROMOTIONS.get(w_name, ()):
                return resolve_decode(r, writer, branch)
        raise ValueError(
            f"writer type {w_name!r} matches no reader-union branch"
        )
    w_name, r_name = _type_name(writer), _type_name(reader)
    if w_name == r_name == "record":
        reader_fields = {f["name"]: f for f in reader["fields"]}
        out = {}
        for wf in writer["fields"]:  # writer order drives the bytes
            rf = reader_fields.pop(wf["name"], None)
            if rf is None:
                r.decode(wf["type"])  # skip a writer-only field
            else:
                out[wf["name"]] = resolve_decode(
                    r, wf["type"], rf["type"]
                )
        for name, rf in reader_fields.items():  # reader-only fields
            if "default" not in rf:
                raise ValueError(
                    f"reader field {name!r} absent from the writer "
                    "and has no default"
                )
            out[name] = rf["default"]
        return out
    if w_name == r_name == "array":
        out = []
        while True:
            count = r.long()
            if count == 0:
                return out
            if count < 0:
                count = -count
                r.long()
            for _ in range(count):
                out.append(
                    resolve_decode(r, writer["items"], reader["items"])
                )
    if w_name == r_name == "map":
        out = {}
        while True:
            count = r.long()
            if count == 0:
                return out
            if count < 0:
                count = -count
                r.long()
            for _ in range(count):
                key = r.take(r.long()).decode()
                out[key] = resolve_decode(
                    r, writer["values"], reader["values"]
                )
    if w_name == r_name == "enum":
        idx = r.long()
        symbols = writer["symbols"]
        if not 0 <= idx < len(symbols):
            raise ValueError(f"enum index {idx} out of range")
        sym = symbols[idx]
        if sym not in reader["symbols"]:
            if "default" not in reader:
                raise ValueError(
                    f"writer enum symbol {sym!r} unknown to the reader"
                )
            return reader["default"]
        return sym
    if w_name == r_name:  # identical primitive / fixed: plain decode
        return r.decode(writer)
    if r_name in _PROMOTIONS.get(w_name, ()):
        val = r.decode(writer if isinstance(writer, str) else w_name)
        if w_name in ("int", "long") and r_name in ("float", "double"):
            return float(val)
        if w_name == "string" and r_name == "bytes":
            return val.encode("utf-8")
        if w_name == "bytes" and r_name == "string":
            return val.decode("utf-8", "strict")
        return val
    raise ValueError(
        f"writer schema {w_name!r} does not resolve to reader "
        f"{r_name!r}"
    )


# --- schema-evolution fixture -----------------------------------------------

AVRO_WRITER_V1 = {
    "type": "record",
    "name": "DocV1",
    "fields": [
        {"name": "id", "type": "int"},
        {"name": "body", "type": ["null", "string"]},
        {"name": "tags", "type": {"type": "array", "items": "long"}},
        {"name": "score", "type": "float"},
    ],
}

# The reader's view after evolution: id promoted int->long, score
# float->double, the tags array RETIRED (reader must skip it inside
# every record), and a new lang field with a default the writer never
# knew about.  Field order deliberately differs from the writer's —
# resolution is by name, the byte stream follows writer order.
AVRO_READER_V2 = {
    "type": "record",
    "name": "DocV1",
    "fields": [
        {"name": "lang", "type": "string", "default": "en"},
        {"name": "score", "type": "double"},
        {"name": "id", "type": "long"},
        {"name": "body", "type": ["null", "string"]},
    ],
}


def make_avro_v1_bytes(doc_id: int, text: str) -> bytes:
    """An Object Container File written under AVRO_WRITER_V1 — same
    record generators as ``make_avro_bytes`` (ids doc*10+j, null body
    every fifth record, tags [doc%7+j, 2j], quarter-exact scores, the
    full codec cycle) but with int ids and float32 scores, the types the
    V2 reader must PROMOTE."""
    codec = avro_codec(doc_id)
    sync = avro_sync(doc_id)
    header = bytearray(AVRO_MAGIC)
    meta = [
        ("avro.schema", json.dumps(AVRO_WRITER_V1).encode()),
        ("avro.codec", codec.encode()),
    ]
    header += write_long(len(meta))
    for k, v in meta:
        header += _write_str(k) + _write_bytes(v)
    header += write_long(0)
    header += sync

    def record(j: int) -> bytes:
        out = bytearray()
        out += write_long(doc_id * 10 + j)
        if (doc_id + j) % 5 == 0:
            out += write_long(0)
        else:
            out += write_long(1) + _write_str(avro_body(text, j))
        out += write_long(2)
        out += write_long(doc_id % 7 + j) + write_long(2 * j)
        out += write_long(0)
        out += struct.pack("<f", doc_id % 100 + j * 0.25)
        return bytes(out)

    n = avro_n_records(doc_id)
    body = bytearray(header)
    for start in range(0, n, AVRO_BLOCK_RECORDS):
        recs = [
            record(j)
            for j in range(start, min(start + AVRO_BLOCK_RECORDS, n))
        ]
        plain = b"".join(recs)
        data = _encode_block(codec, plain)
        body += write_long(len(recs))
        body += write_long(len(data))
        body += data
        body += sync
    return bytes(body)


def parse_avro_evolved(
    doc_id: int, raw: bytes
) -> tuple[int, int, int, int, int, int]:
    """(n_records, sum_ids, sum_body_chars, n_null_bodies,
    sum_score_quarters, n_default_lang) by reading a V1-written
    container THROUGH the V2 reader schema: the resolver promotes
    id int->long and score float->double, skips the retired tags
    array inside every record, fills lang from its default, and the
    reader schema's own field order plays no role in the byte walk.
    The container must declare the V1 writer schema by name."""
    if raw[:4] != AVRO_MAGIC:
        raise ValueError(f"doc {doc_id}: not an avro container")
    r = _Reader(raw, 4)
    meta: dict[str, bytes] = {}
    while True:
        count = r.long()
        if count == 0:
            break
        if count < 0:
            count = -count
            r.long()
        for _ in range(count):
            key = r.take(r.long()).decode()
            meta[key] = r.take(r.long())
    writer = json.loads(meta["avro.schema"])
    if writer.get("name") != "DocV1":
        raise ValueError(
            f"doc {doc_id}: container schema {writer.get('name')!r} is "
            "not the V1 writer this reader evolves from"
        )
    codec = meta.get("avro.codec", b"null").decode()
    if codec not in ("null", "deflate", "bzip2", "xz", "snappy"):
        raise NotImplementedError(
            f"avro codec {codec!r} not implemented "
            "(null/deflate/bzip2/xz/snappy only)"
        )
    sync = r.take(16)
    n_records = sum_ids = sum_chars = n_nulls = sum_q = n_default = 0
    while r.pos < len(raw):
        count = r.long()
        size = r.long()
        if count < 0 or size < 0:
            raise ValueError(f"doc {doc_id}: negative block framing")
        data = r.take(size)
        data = _decode_block(doc_id, codec, data)
        if r.take(16) != sync:
            raise ValueError(f"doc {doc_id}: sync marker mismatch")
        br = _Reader(data)
        for _ in range(count):
            rec = resolve_decode(br, writer, AVRO_READER_V2)
            if set(rec) != {"lang", "score", "id", "body"}:
                raise ValueError(
                    f"doc {doc_id}: resolved record has fields "
                    f"{sorted(rec)}"
                )
            sum_ids += rec["id"]
            if rec["body"] is None:
                n_nulls += 1
            else:
                sum_chars += len(rec["body"])
            q = rec["score"] * 4
            if q != int(q):
                raise ValueError(f"doc {doc_id}: score not quarter-exact")
            sum_q += int(q)
            if rec["lang"] == "en":
                n_default += 1
        if br.pos != len(data):
            raise ValueError(
                f"doc {doc_id}: block count consumed {br.pos} of "
                f"{len(data)} bytes"
            )
        n_records += count
    if n_records == 0:
        raise ValueError(f"doc {doc_id}: no data blocks")
    return n_records, sum_ids, sum_chars, n_nulls, sum_q, n_default


AVRO_EVOLVED_SCHEMA = (
    "doc_id long, n_records long, sum_ids long, sum_body_chars long, "
    "n_null_bodies long, sum_score_quarters long, n_default_lang long"
)


@decoder(AVRO_EVOLVED_SCHEMA)
def decode_avro_evolved():
    """One V1-written Avro container per row, read through the V2
    reader schema: ``parse_avro_evolved``'s counts."""
    return lambda doc_id, raw: [parse_avro_evolved(doc_id, raw)]
