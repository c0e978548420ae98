"""One Arrow batch loop for every codec: media and ingest containers.

A codec is two pure row functions: ``make_X_bytes(doc_id[, text]) ->
bytes`` (``synth.py``, or the ``ingest/`` container modules) and a
decoder's row function ``(doc_id, raw) -> iterable of row tuples``.
``@decoder(SCHEMA)`` declares the second: it goes on a zero-argument
factory whose body is the per-task setup (imports, lookup tables, inner
walkers) and which returns the row function.  ``host`` is the only
``mapInPandas`` loop around them: it calls the factory once per task,
on the worker, feeds it each input row's payload (read from
``payload``, or made by ``make`` from the row's columns inside the same
Python stage), and prepends the input ``doc_id`` to every row the row
function yields, so every output row carries its input's ``doc_id`` by
construction.

Split out of ``decode.py`` so a worker running a family module's
decoder (``dec_mp3``, an ``ingest`` container, ...) imports only that
module and this one.
"""

from __future__ import annotations

import functools
import importlib
import sys
from collections.abc import Callable, Iterator
from typing import TYPE_CHECKING

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd
    from pyspark.sql import DataFrame


def _load(module: str, name: str):
    return getattr(importlib.import_module(module), name)


class Decoder:
    """A declared decoder: ``decode_X(media_df)`` is the ``mapInPandas``
    over ``media_df``'s ``doc_id, payload``; ``decode_X.factory()``
    returns the row function, for calls without Spark;
    ``decode_X.columns`` are the schema's column names, ``doc_id``
    first."""

    def __init__(self, factory: Callable[[], Callable], schema: str) -> None:
        names = [f.split()[0] for f in schema.split(",")]
        if names[0] != "doc_id":
            raise ValueError(
                f"@decoder on {factory.__qualname__}: the schema's first "
                f"column must be doc_id, got {names[0]!r}"
            )
        self.factory, self.schema, self.columns = factory, schema, tuple(names)
        functools.update_wrapper(self, factory)

    def __call__(self, media_df: "DataFrame") -> "DataFrame":
        return media_df.select("doc_id", "payload").mapInPandas(host(self), self.schema)

    def __reduce__(self):
        # a module-level decoder travels to the worker by name, so its
        # factory runs against the real module globals (lazy tables
        # built once per process); a local one travels by value
        if getattr(sys.modules.get(self.__module__), self.__qualname__, None) is self:
            return _load, (self.__module__, self.__qualname__)
        return Decoder, (self.factory, self.schema)


def decoder(schema: str) -> Callable[[Callable[[], Callable]], Decoder]:
    """Declare a decoder factory's output schema (``doc_id`` first; the
    row function yields the remaining columns)."""
    return lambda factory: Decoder(factory, schema)


def indexed(rows) -> Iterator[tuple]:
    """``(i, *row)`` for each row: the ``frame_idx`` column of a
    row-per-frame decoder."""
    return ((i, *row) for i, row in enumerate(rows))


def host(dec: Decoder, make: Callable[..., bytes] | None = None):
    """The ``mapInPandas`` function for ``dec``: over ``doc_id,
    payload`` batches, or, given ``make``, over batches whose payloads
    ``make`` builds in the same stage from each row's columns in order
    (``make(doc_id)`` for a ``doc_id`` frame, ``make(doc_id, text)`` for
    a ``doc_id, text`` one): the fused synth→decode shape, where payload
    bytes never cross the JVM↔Python boundary."""
    width = len(dec.columns) - 1

    def kernel(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        rows_of = dec.factory()
        for pdf in batches:
            ids = pdf["doc_id"].tolist()
            raws = (
                map(make, *(pdf[c].tolist() for c in pdf.columns)) if make
                else pdf["payload"]
            )
            out_ids: list[int] = []
            rows: list[tuple] = []
            for doc_id, raw in zip(ids, raws):
                n = len(rows)
                rows.extend(rows_of(doc_id, bytes(raw)))
                out_ids.extend([doc_id] * (len(rows) - n))
            cols = [list(c) for c in zip(*rows)] if rows else [[]] * width
            if len(cols) != width:
                raise ValueError(
                    f"{dec.__qualname__}: rows have {len(cols)} values, "
                    f"schema has {width} after doc_id"
                )
            yield pd.DataFrame(dict(zip(dec.columns, (out_ids, *cols))))

    return kernel
