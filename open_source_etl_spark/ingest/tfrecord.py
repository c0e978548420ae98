"""TFRecord plumbing: the container LLM/ML training pipelines actually
write their tensorized data into — length-framed records, each guarded
by MASKED CRC-32C checksums (the Castagnoli polynomial, reflected, with
TensorFlow's rotate-and-offset mask), carrying ``tf.Example`` protobuf
messages in real wire format.

Everything is implemented from the public specs: the TFRecord framing
(8-byte little-endian length + masked crc32c(length) + payload + masked
crc32c(payload)), reflected CRC-32C, and enough of the protobuf wire
format (varints, tag = field<<3 | wire_type, LEN-delimited submessages,
packed int64 lists) to encode and decode ``Example { features {
feature: map<string, Feature> } }`` with bytes_list / int64_list
values.  The reader walks the wire generically — unknown fields are
skipped by wire type, truncated varints and bad checksums raise.

Scale posture: identical to ``ingest/warc.py`` — per-file decoders on
the codec host (``multimodal/host.py``), no cross-row state; at 100 TB
the decoders map over ``binaryFile`` rows of real training shards.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

from ..multimodal.bits import crc_table
from ..multimodal.host import decoder


_CRC32C_TABLE = crc_table(0x82F63B78, 32, reflect=True)
_MASK_DELTA = 0xA282EAD8


def crc32c(data: bytes) -> int:
    """Reflected CRC-32C (Castagnoli), init/xorout 0xFFFFFFFF — the
    checksum TFRecord frames with.  Table-driven, one lookup per byte."""
    crc = 0xFFFFFFFF
    for byte in data:
        crc = _CRC32C_TABLE[(crc ^ byte) & 0xFF] ^ (crc >> 8)
    return crc ^ 0xFFFFFFFF


def masked_crc(data: bytes) -> int:
    """TensorFlow's masked CRC: rotate right 15 and add the mask delta
    (guards against CRCs of CRCs)."""
    crc = crc32c(data)
    return (((crc >> 15) | (crc << 17)) + _MASK_DELTA) & 0xFFFFFFFF


def _varint(value: int) -> bytes:
    out = bytearray()
    while True:
        bits = value & 0x7F
        value >>= 7
        if value:
            out.append(bits | 0x80)
        else:
            out.append(bits)
            return bytes(out)


def _read_varint(raw: bytes, pos: int) -> tuple[int, int]:
    value = shift = 0
    while True:
        if pos >= len(raw):
            raise ValueError("truncated varint")
        byte = raw[pos]
        pos += 1
        value |= (byte & 0x7F) << shift
        if not byte & 0x80:
            return value, pos
        shift += 7
        if shift > 63:
            raise ValueError("varint overflows 64 bits")


def _len_field(field: int, payload: bytes) -> bytes:
    return _varint((field << 3) | 2) + _varint(len(payload)) + payload


def make_example_bytes(text: str, ids: list[int]) -> bytes:
    """One ``tf.Example`` in real protobuf wire format: feature "text"
    as a bytes_list, feature "ids" as a PACKED int64_list."""
    bytes_list = _len_field(1, text.encode())          # BytesList.value
    feature_text = _len_field(1, bytes_list)           # Feature.bytes_list
    packed = b"".join(_varint(v) for v in ids)
    int64_list = _len_field(1, packed)                 # Int64List.value
    feature_ids = _len_field(3, int64_list)            # Feature.int64_list
    entry_text = _len_field(1, b"text") + _len_field(2, feature_text)
    entry_ids = _len_field(1, b"ids") + _len_field(2, feature_ids)
    features = _len_field(1, entry_text) + _len_field(1, entry_ids)
    return _len_field(1, features)                     # Example.features


def tfrecord_n_records(doc_id: int) -> int:
    return 2 + doc_id % 3


def tfrecord_slice(text: str, j: int) -> str:
    """Record j's text feature: the closed-form slice [6j, 6j+25+3j)."""
    return text[6 * j : 6 * j + 25 + 3 * j]


def make_tfrecord_bytes(doc_id: int, text: str) -> bytes:
    """A TFRecord file of tf.Example records with real framing: per
    record an 8-byte LE length, the masked crc32c of those length
    bytes, the Example payload, and the masked crc32c of the payload."""
    out = bytearray()
    for j in range(tfrecord_n_records(doc_id)):
        payload = make_example_bytes(
            tfrecord_slice(text, j), [doc_id * 100 + j, j]
        )
        header = struct.pack("<Q", len(payload))
        out += header
        out += struct.pack("<I", masked_crc(header))
        out += payload
        out += struct.pack("<I", masked_crc(payload))
    return bytes(out)


def _walk_fields(raw: bytes) -> Iterator[tuple[int, int, bytes | int]]:
    """Generic protobuf wire walk: yields (field, wire_type, value) —
    bytes for LEN fields, int for varints; 32/64-bit fields are
    returned as ints.  Unknown groups raise (deprecated wire types)."""
    pos = 0
    while pos < len(raw):
        tag, pos = _read_varint(raw, pos)
        field, wire = tag >> 3, tag & 0x7
        if wire == 0:
            value, pos = _read_varint(raw, pos)
            yield field, wire, value
        elif wire == 2:
            length, pos = _read_varint(raw, pos)
            if pos + length > len(raw):
                raise ValueError("LEN field overruns message")
            yield field, wire, raw[pos : pos + length]
            pos += length
        elif wire == 5:
            if pos + 4 > len(raw):
                raise ValueError("truncated 32-bit field")
            yield field, wire, struct.unpack_from("<I", raw, pos)[0]
            pos += 4
        elif wire == 1:
            if pos + 8 > len(raw):
                raise ValueError("truncated 64-bit field")
            yield field, wire, struct.unpack_from("<Q", raw, pos)[0]
            pos += 8
        else:
            raise ValueError(f"unsupported wire type {wire}")


def parse_example(payload: bytes) -> tuple[str, list[int]]:
    """Decode one tf.Example: returns (text, int64 ids).  Walks the
    nested map<string, Feature> generically; unknown features and
    fields are skipped by wire type."""
    text, ids = "", []
    for f_ex, w_ex, features in _walk_fields(payload):
        if (f_ex, w_ex) != (1, 2):
            continue
        for f_fs, w_fs, entry in _walk_fields(features):
            if (f_fs, w_fs) != (1, 2):
                continue
            key, feature = None, None
            for f_e, w_e, v in _walk_fields(entry):
                if (f_e, w_e) == (1, 2):
                    key = v.decode("utf-8", "strict")
                elif (f_e, w_e) == (2, 2):
                    feature = v
            if key is None or feature is None:
                raise ValueError("map entry missing key or Feature")
            for f_k, w_k, kind in _walk_fields(feature):
                if key == "text" and (f_k, w_k) == (1, 2):  # bytes_list
                    for f_b, w_b, val in _walk_fields(kind):
                        if (f_b, w_b) == (1, 2):
                            text = val.decode("utf-8", "strict")
                elif key == "ids" and (f_k, w_k) == (3, 2):  # int64_list
                    for f_i, w_i, packed in _walk_fields(kind):
                        if (f_i, w_i) == (1, 2):
                            pos = 0
                            while pos < len(packed):
                                v, pos = _read_varint(packed, pos)
                                ids.append(v)
    return text, ids


def parse_tfrecord(doc_id: int, raw: bytes) -> tuple[int, int, int]:
    """(n_records, sum_text_chars, sum_ids) with BOTH masked CRC-32Cs
    verified per record; truncation and checksum damage raise."""
    pos = 0
    n_records = total_chars = total_ids = 0
    while pos < len(raw):
        if pos + 12 > len(raw):
            raise ValueError(f"doc {doc_id}: truncated record header")
        header = raw[pos : pos + 8]
        (length,) = struct.unpack("<Q", header)
        (len_crc,) = struct.unpack_from("<I", raw, pos + 8)
        if masked_crc(header) != len_crc:
            raise ValueError(f"doc {doc_id}: length CRC mismatch at {pos}")
        pos += 12
        if pos + length + 4 > len(raw):
            raise ValueError(f"doc {doc_id}: truncated record payload")
        payload = raw[pos : pos + length]
        (data_crc,) = struct.unpack_from("<I", raw, pos + length)
        if masked_crc(payload) != data_crc:
            raise ValueError(f"doc {doc_id}: payload CRC mismatch at {pos}")
        pos += length + 4
        text, ids = parse_example(payload)
        n_records += 1
        total_chars += len(text)
        total_ids += sum(ids)
    if n_records == 0:
        raise ValueError(f"doc {doc_id}: empty TFRecord file")
    return n_records, total_chars, total_ids


TFRECORD_SCHEMA = (
    "doc_id long, n_records long, sum_text_chars long, sum_ids long"
)


@decoder(TFRECORD_SCHEMA)
def decode_tfrecord():
    """One TFRecord file per row: ``parse_tfrecord``'s counts."""
    return lambda doc_id, raw: [parse_tfrecord(doc_id, raw)]
