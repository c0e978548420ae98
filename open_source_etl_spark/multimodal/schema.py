"""Typed schemas for multimodal columns.

A media value is an opaque ``binary`` payload plus typed metadata the
engine can filter/partition on WITHOUT decoding: media kind, byte size,
source URI.  That separation is the 100 TB design point — predicates on
metadata prune before any byte of payload moves, and payload bytes only
flow through the one ``mapInPandas`` stage that needs them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# media struct column: (kind, source, n_bytes, payload)
MEDIA_SCHEMA = StructType(
    [
        StructField("kind", StringType()),
        StructField("source", StringType()),
        StructField("n_bytes", LongType()),
        StructField("payload", BinaryType()),
    ]
)

# output of the image-decode kernel (``decode.decode_image_meta``)
IMAGE_META_SCHEMA = (
    "doc_id long, n_bytes long, sha string, width int, height int, "
    "n_channels int"
)


def with_media_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach a synthetic media struct column derived from a text column.

    The fixtures carry no real media, so the payload is the UTF-8 bytes of
    the document text — deterministic, so every downstream kernel is
    oracle-checkable.  Real deployments read payloads with
    ``spark.read.format("binaryFile")`` (content + path + length columns)
    and get the same struct shape.
    """
    payload = F.encode(F.col(text_col), "UTF-8")
    return df.withColumn(
        "media",
        F.struct(
            F.lit("image").alias("kind"),
            F.concat(F.lit("synthetic://doc/"), F.col("doc_id")).alias("source"),
            F.octet_length(payload).cast("long").alias("n_bytes"),
            payload.alias("payload"),
        ),
    )
