"""Multimodal columns (EXT, SURVEY.md §2B): image/audio/video as opaque
binary columns with typed metadata, processed by Arrow-batched
``mapInPandas`` pipelines.

Uncompressed formats decode FOR REAL with the stdlib: RIFF/WAVE via the
``wave`` module and 24-bit BMP via hand struct parsing (``synth.py``
generates spec-compliant fixtures; ``decode_wav_real``/``decode_bmp_real``
parse them back, differentially checked against formula oracles).  The
container has no compressed-codec libraries, but the compressed codec
families are decoded in pure stdlib anyway — PNG (DEFLATE + scanline
unfilters, all color types, Adam7), JPEG (baseline through progressive
with restart intervals), GIF (variable-width LZW), FLAC, WebP VP8L,
TIFF, MP3 (every B.7 Huffman table incl. linbits escapes, requant,
stereo, exact filterbank — ``dec_mp3.py``) and H.264 CAVLC intra +
integer-pel inter (multi-ref, B/weighted/direct) — with the remaining
depth (CABAC, fractional-pel motion, and kin) behind declared
``NotImplementedError`` boundaries that name their spec clause and
carry rejection tests — while everything Spark-side is real and tested: the struct
schemas, the binary payload plumbing, row expansion (frame sampling), and
the partitioning posture (media rows are large → size partitions by
bytes, never collect payloads to the driver).

Each codec is two pure row functions: ``make_X_bytes(doc_id) -> bytes``
in ``synth.py`` and an ``@decoder(SCHEMA)`` factory returning ``(doc_id,
raw) -> rows``.  ``host.py`` holds the one ``mapInPandas`` batch loop
around them, for the ``ingest/`` dataset containers too (WARC, ZIP,
TAR, Avro, zstd, ...), whose builders also take the document text;
``decode.media_frame(docs, make, decode_X)`` runs both in a single
Python stage, calling ``make`` with each row's columns in order
(``make(doc_id)`` over a ``doc_id`` frame, ``make(doc_id, text)`` over a
``doc_id, text`` one), and ``decode_X(media_df)`` decodes a ``doc_id,
payload`` frame.  The six ``media.payload`` feature kernels
(``decode_image_meta``, ``sample_frames``, ``audio_chunk_energy``,
``block_mean_resize``, ``byte_histogram``, ``perceptual_hash``) are
decoders of the same shape: feed them
``with_media_payload(df).select("doc_id", "media.payload")``.

Every codec's bit-level I/O and CRC tables come from ``bits.py``: one
MSB-first and one LSB-first reader/writer pair plus zstd's backward
reader, shared by the media codecs and the ``ingest/`` containers.  Its
prefix-code layer builds every Huffman and VLC table: one canonical-code
builder (JPEG, VP8L, zstd literals), one peek-LUT builder (those plus
H.264 CAVLC and MP3) and one ``read_symbol`` per reader.
"""

from .schema import (
    IMAGE_META_SCHEMA,
    MEDIA_SCHEMA,
    with_media_payload,
)

# decode re-exports are LAZY (PEP 562): a Spark worker importing a
# split-out family module (dec_mp3, ...) must not execute decode.py
# as a side effect of this package's __init__.
_DECODE_NAMES = frozenset({
    "audio_chunk_energy", "decode_bmp_real", "decode_wav_real",
    "wav_window_features",
    "block_mean_resize", "byte_histogram", "perceptual_hash",
    "decode_image_meta", "sample_frames",
})


def __getattr__(name):
    if name in _DECODE_NAMES:
        from . import decode

        value = getattr(decode, name)
        globals()[name] = value
        return value
    raise AttributeError(
        f"module {__name__!r} has no attribute {name!r}"
    )

__all__ = [
    "MEDIA_SCHEMA",
    "IMAGE_META_SCHEMA",
    "with_media_payload",
    "audio_chunk_energy",
    "block_mean_resize",
    "byte_histogram",
    "perceptual_hash",
    "decode_image_meta",
    "decode_wav_real",
    "decode_bmp_real",
    "wav_window_features",
    "sample_frames",
]
