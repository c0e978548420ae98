"""WARC (ISO 28500) record plumbing: the container format web-crawl
corpora (Common Crawl and kin) actually arrive in, which makes it the
first parse of most LLM training-data pipelines.

Generalizes the reference's landing-zone file handling
(``include/scripts/file_services/*``, ``dags/ingest_bundesliga_match_
scores.py:130-143``) from CSV blobs to the crawl container: synthesize
spec-shaped WARC files (one per document, warcinfo + request/response
pairs, real ``Content-Length`` accounting and ``\\r\\n\\r\\n`` record
separators) and extract per-record structure + visible HTML text with a
content-length-driven walk — one response body deliberately embeds the
literal ``WARC/1.0`` marker, so a parser that rescans for magic instead
of honoring Content-Length miscounts records.

Scale posture: ``make_warc_bytes`` and ``decode_warc`` are a codec
pair on the one Arrow batch loop in ``multimodal/host.py`` — the
synthesized WARC blob is built and walked inside one Python stage, so
it never crosses the JVM↔Python boundary.  The walk is per-document,
embarrassingly parallel, carries no cross-row state, and emits
fixed-width columns; at 100 TB the same decoder maps over (path,
bytes) rows from ``binaryFile`` scans of real crawl shards.
"""

from __future__ import annotations

from ..multimodal.host import decoder


def warc_page_params(doc_id: int, k: int, n_chars: int) -> tuple[int, int, int]:
    """(status, slice_start, slice_len) for page k of doc ``doc_id``:
    closed forms a SQL oracle can restate.  slice_start is 0-based into
    the document text; slice_len is clamped to the text."""
    status = 404 if (doc_id + k) % 5 == 0 else 200
    start = 7 * k
    length = max(0, min(40 + 3 * k, n_chars - start))
    return status, start, length


def warc_n_pages(doc_id: int) -> int:
    return 2 + doc_id % 3


def make_warc_bytes(doc_id: int, text: str) -> bytes:
    """One spec-shaped WARC/1.0 file: a warcinfo record, then per page
    a request record and a response record whose HTTP payload wraps a
    closed-form slice of the document text in fixed HTML.  Page 0's
    body opens with the literal ``WARC/1.0 `` string — the
    content-length trap.

    Odd docs are written as ``.warc.gz`` exactly the way Common Crawl
    ships them (ISO 28500 annex): EVERY RECORD its own gzip member,
    members concatenated — the layout that makes per-record random
    access possible.  The record content is identical either way, so
    the extraction oracle is form-independent."""
    def record(rtype: str, uri: str, payload: bytes) -> bytes:
        head = (
            f"WARC/1.0\r\n"
            f"WARC-Type: {rtype}\r\n"
            f"WARC-Record-ID: <urn:uuid:doc-{doc_id}-{rtype}-{uri}>\r\n"
            f"WARC-Date: 2026-01-01T00:00:00Z\r\n"
            + (f"WARC-Target-URI: {uri}\r\n" if uri else "")
            + f"Content-Length: {len(payload)}\r\n\r\n"
        ).encode()
        return head + payload + b"\r\n\r\n"

    out = [record("warcinfo", "", b"software: open-source-etl-spark\r\n")]
    for k in range(warc_n_pages(doc_id)):
        uri = f"http://example-{doc_id}.test/page{k}"
        status, start, length = warc_page_params(doc_id, k, len(text))
        out.append(
            record(
                "request",
                uri,
                f"GET /page{k} HTTP/1.1\r\nHost: example-{doc_id}.test"
                f"\r\n\r\n".encode(),
            )
        )
        body_text = ("WARC/1.0 " if k == 0 else "") + text[start : start + length]
        body = f"<html><body>{body_text}</body></html>".encode()
        reason = "OK" if status == 200 else "Not Found"
        if (doc_id + k) % 3 == 1:
            # chunked transfer coding (RFC 9112 §7.1) — the body shape
            # crawled HTTP responses actually arrive in; the first
            # chunk keeps the embedded-magic trap contiguous
            cut = max(16, len(body) // 2)
            chunks = [body[:cut], body[cut:]]
            wire = b"".join(
                f"{len(c):x}\r\n".encode() + c + b"\r\n"
                for c in chunks if c
            ) + b"0\r\n\r\n"
            http = (
                f"HTTP/1.1 {status} {reason}\r\n"
                f"Content-Type: text/html\r\n"
                f"Transfer-Encoding: chunked\r\n\r\n"
            ).encode() + wire
        else:
            http = (
                f"HTTP/1.1 {status} {reason}\r\n"
                f"Content-Type: text/html\r\n"
                f"Content-Length: {len(body)}\r\n\r\n"
            ).encode() + body
        out.append(record("response", uri, http))
    if doc_id % 2:
        import gzip

        return b"".join(gzip.compress(r, 9, mtime=0) for r in out)
    return b"".join(out)


def strip_html_text(html: str) -> str:
    """Visible text of an HTML fragment: drop every ``<...>`` tag span.
    Linear single pass; no external parser."""
    out: list[str] = []
    in_tag = False
    for ch in html:
        if ch == "<":
            in_tag = True
        elif ch == ">":
            in_tag = False
        elif not in_tag:
            out.append(ch)
    return "".join(out)


def parse_warc(doc_id: int, raw: bytes) -> tuple[int, int, int, int, int]:
    """Walk one WARC file by Content-Length (NEVER by rescanning for
    the version magic — payloads may contain it): returns (n_records,
    n_responses, n_ok, sum_text_chars, sum_payload_bytes), where
    sum_text_chars counts the visible HTML text of 200 responses only.
    ``.warc.gz`` input (1F 8B magic) is walked member by member —
    zlib's gzip mode verifies each member's CRC-32/ISIZE trailer —
    and each member must hold EXACTLY ONE record, the Common Crawl
    random-access contract.  Malformed files (bad magic, missing
    Content-Length, a record not closed by CRLF CRLF, truncation, an
    unterminated member, a multi-record member) raise."""
    if raw[:2] == b"\x1f\x8b":
        import zlib

        totals = [0, 0, 0, 0, 0]
        pos = 0
        while pos < len(raw):
            d = zlib.decompressobj(31)  # gzip wrapper, trailer verified
            try:
                plain = d.decompress(raw[pos:])
            except zlib.error as exc:
                raise ValueError(
                    f"doc {doc_id}: bad warc.gz member at {pos}: {exc}"
                ) from None
            if not d.eof:
                raise ValueError(
                    f"doc {doc_id}: warc.gz member at {pos} unterminated"
                )
            pos = len(raw) - len(d.unused_data)
            counts = _parse_warc_records(doc_id, plain)
            if counts[0] != 1:
                raise ValueError(
                    f"doc {doc_id}: warc.gz member holds {counts[0]} "
                    "records (exactly one per member)"
                )
            totals = [a + b for a, b in zip(totals, counts)]
        if totals[0] == 0:
            raise ValueError(f"doc {doc_id}: empty WARC file")
        return tuple(totals)
    return _parse_warc_records(doc_id, raw)


def _dechunk(doc_id: int, body: bytes) -> bytes:
    """Decode an RFC 9112 §7.1 chunked body: hex chunk-size lines
    (chunk extensions after ';' ignored), each chunk closed by CRLF,
    the stream closed by the zero chunk; trailers are not consumed
    (the WARC Content-Length already bounded the body).  Bad sizes,
    missing CRLFs, truncation, or bytes after the terminator raise."""
    out = bytearray()
    pos = 0
    while True:
        eol = body.find(b"\r\n", pos)
        if eol < 0:
            raise ValueError(
                f"doc {doc_id}: chunked body missing a size line"
            )
        size_field = body[pos:eol].split(b";")[0].strip()
        # RFC 9112 chunk-size is 1*HEXDIG: reject signs, 0x prefixes,
        # underscores — anything int(, 16) would otherwise accept (a
        # negative size silently yields an empty chunk and misaligned
        # CRLF checks instead of a clean rejection)
        if not size_field or any(
            c not in b"0123456789abcdefABCDEF" for c in size_field
        ):
            raise ValueError(
                f"doc {doc_id}: bad chunk size {size_field!r}"
            )
        size = int(size_field, 16)
        pos = eol + 2
        if size == 0:
            if body[pos : pos + 2] != b"\r\n":
                raise ValueError(
                    f"doc {doc_id}: chunked body missing its final CRLF"
                )
            if body[pos + 2 :]:
                raise ValueError(
                    f"doc {doc_id}: bytes after the last chunk"
                )
            return bytes(out)
        if pos + size + 2 > len(body):
            raise ValueError(f"doc {doc_id}: truncated chunk")
        out += body[pos : pos + size]
        if body[pos + size : pos + size + 2] != b"\r\n":
            raise ValueError(
                f"doc {doc_id}: chunk not closed by CRLF"
            )
        pos += size + 2


def _parse_warc_records(
    doc_id: int, raw: bytes
) -> tuple[int, int, int, int, int]:
    """The Content-Length record walk over an UNCOMPRESSED buffer."""
    pos = 0
    n_records = n_responses = n_ok = text_chars = payload_bytes = 0
    while pos < len(raw):
        end = raw.find(b"\r\n\r\n", pos)
        if end < 0:
            raise ValueError(f"doc {doc_id}: unterminated WARC header")
        header = raw[pos:end].decode("utf-8", "strict")
        lines = header.split("\r\n")
        if lines[0] != "WARC/1.0":
            raise ValueError(
                f"doc {doc_id}: bad WARC version line {lines[0]!r} at {pos}"
            )
        fields = {}
        for line in lines[1:]:
            name, _, value = line.partition(":")
            fields[name.strip().lower()] = value.strip()
        if "content-length" not in fields:
            raise ValueError(f"doc {doc_id}: record without Content-Length")
        length = int(fields["content-length"])
        body_at = end + 4
        if body_at + length + 4 > len(raw):
            raise ValueError(f"doc {doc_id}: truncated WARC record")
        payload = raw[body_at : body_at + length]
        if raw[body_at + length : body_at + length + 4] != b"\r\n\r\n":
            raise ValueError(
                f"doc {doc_id}: record payload not closed by CRLFCRLF "
                f"(Content-Length wrong?)"
            )
        n_records += 1
        payload_bytes += length
        if fields.get("warc-type") == "response":
            n_responses += 1
            http_end = payload.find(b"\r\n\r\n")
            if http_end < 0:
                raise ValueError(f"doc {doc_id}: response without HTTP head")
            status_line = payload[: payload.find(b"\r\n")].decode()
            status = int(status_line.split(" ")[1])
            http_fields = {}
            for line in payload[:http_end].decode(
                "utf-8", "strict"
            ).split("\r\n")[1:]:
                name, _, value = line.partition(":")
                http_fields[name.strip().lower()] = value.strip()
            if status == 200:
                n_ok += 1
                body = payload[http_end + 4 :]
                if (
                    http_fields.get("transfer-encoding", "").lower()
                    == "chunked"
                ):
                    body = _dechunk(doc_id, body)
                html = body.decode("utf-8", "strict")
                text_chars += len(strip_html_text(html))
        pos = body_at + length + 4
    if n_records == 0:
        raise ValueError(f"doc {doc_id}: empty WARC file")
    return n_records, n_responses, n_ok, text_chars, payload_bytes


WARC_EXTRACT_SCHEMA = (
    "doc_id long, n_records long, n_responses long, n_ok long, "
    "sum_text_chars long"
)


@decoder(WARC_EXTRACT_SCHEMA)
def decode_warc():
    """One WARC file per row: the first four of ``parse_warc``'s
    counts (record structure and visible text)."""
    return lambda doc_id, raw: [parse_warc(doc_id, raw)[:4]]
