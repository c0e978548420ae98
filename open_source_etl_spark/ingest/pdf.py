"""PDF object/xref walk and text extraction — the crawl format a
training-data pipeline most often needs text OUT of (alongside WARC
bodies).  Everything implemented from the public ISO 32000-1 spec:
the header/xref/trailer skeleton, 20-byte cross-reference entries
located from ``startxref`` at the tail, per-object parses through the
xref offsets (never by scanning for ``obj`` — one content stream
embeds a phantom ``{2+2n+1} 0 obj`` keyword as a trap), stream
extraction
with ``/Length`` cross-checked, FlateDecode through the same stdlib
zlib the ZIP/PNG paths use, and page text recovered from content
streams by executing the ``Tj`` show operators on PDF string literals
(escape sequences ``\\(``, ``\\)``, ``\\\\`` and octal ``\\ddd``
unescaped).  Cross-reference streams (PDF 1.5+), encryption, object
streams, and filters other than FlateDecode raise at the declared
boundary.

Scale posture: identical to ``ingest/archives.py`` — per-document
decoders on the codec host (``multimodal/host.py``), no cross-row
state; at 100 TB the decoders map over ``binaryFile`` rows of real PDF
shards.
"""

from __future__ import annotations

import re
import zlib

from ..multimodal.host import decoder


def pdf_n_pages(doc_id: int) -> int:
    return 2 + doc_id % 3


def pdf_page_text(text: str, p: int) -> str:
    """Page p's content: the closed-form slice [7p, 7p + 24 + 3p) of
    the document text (clamped) with parentheses injected on page 0 —
    characters the PDF string literal must escape."""
    s = text[7 * p : 7 * p + 24 + 3 * p]
    if p == 0:
        s = "(" + s + ")"
    return s


def _pdf_escape(s: str) -> bytes:
    out = []
    for ch in s:
        if ch in "()\\":
            out.append("\\" + ch)
        else:
            out.append(ch)
    return "".join(out).encode("latin-1", "replace")


def make_pdf_bytes(doc_id: int, text: str) -> bytes:
    """A real PDF 1.4: catalog, page tree, one page + content stream
    per ``pdf_n_pages`` (odd pages FlateDecode-compressed, even pages
    raw), a correct xref table whose entries carry the true byte
    offsets, and a trailer with ``startxref``.  Page 0's text embeds
    literal parentheses (escaped in the string literal) and one
    content stream embeds a phantom object header ``{2+2n+1} 0 obj``
    (one past the last real object, so it is out of range for every
    page count) — the scan trap."""
    n = pdf_n_pages(doc_id)
    objects: list[bytes] = []

    kids = " ".join(f"{3 + 2 * p} 0 R" for p in range(n))
    objects.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objects.append(
        f"<< /Type /Pages /Kids [{kids}] /Count {n} >>".encode()
    )
    for p in range(n):
        objects.append(
            f"<< /Type /Page /Parent 2 0 R /Contents {4 + 2 * p} 0 R "
            f"/MediaBox [0 0 612 792] >>".encode()
        )
        body = (
            b"BT /F1 12 Tf 72 720 Td ("
            + _pdf_escape(pdf_page_text(text, p))
            + b") Tj ET"
        )
        if p == 0:
            # embedded-keyword trap (a comment in an UNCOMPRESSED
            # stream, so the literal bytes sit in the file): a parser
            # that scans for "N 0 obj" instead of walking the xref
            # table finds one object too many — the trap number is
            # one PAST the last real object (2 + 2n), so it is a
            # phantom for every page count
            body += f" % {2 + 2 * n + 1} 0 obj".encode()
        if p % 2 == 1:
            data = zlib.compress(body, 9)
            head = (
                f"<< /Length {len(data)} /Filter /FlateDecode >>".encode()
            )
        else:
            data = body
            head = f"<< /Length {len(data)} >>".encode()
        objects.append(head + b"\nstream\n" + data + b"\nendstream")

    out = bytearray(b"%PDF-1.4\n")
    offsets = [0]
    for i, obj in enumerate(objects, start=1):
        offsets.append(len(out))
        out += f"{i} 0 obj\n".encode() + obj + b"\nendobj\n"
    xref_at = len(out)
    out += f"xref\n0 {len(objects) + 1}\n".encode()
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += f"{off:010d} 00000 n \n".encode()
    out += (
        f"trailer\n<< /Size {len(objects) + 1} /Root 1 0 R >>\n"
        f"startxref\n{xref_at}\n%%EOF".encode()
    )
    return bytes(out)


_STRING_RE = re.compile(rb"\((?:[^()\\]|\\.)*\)\s*Tj")


def _unescape(lit: bytes) -> str:
    out = []
    i = 0
    while i < len(lit):
        c = lit[i]
        if c == 0x5C:  # backslash
            nxt = lit[i + 1 : i + 2]
            if nxt in (b"(", b")", b"\\"):
                out.append(nxt.decode("latin-1"))
                i += 2
                continue
            if nxt.isdigit():
                j = i + 1
                while j < len(lit) and j < i + 4 and lit[j : j + 1].isdigit():
                    j += 1
                out.append(chr(int(lit[i + 1 : j], 8)))
                i = j
                continue
            raise ValueError(f"unsupported PDF escape {lit[i:i+2]!r}")
        out.append(chr(c))
        i += 1
    return "".join(out)


def parse_pdf(doc_id: int, raw: bytes) -> tuple[int, int, int, int, int]:
    """(n_objects, n_pages, n_streams, n_flate, text_chars) by walking
    the cross-reference table, not the bytes: ``startxref`` from the
    tail, the xref entries' offsets validated against the actual
    ``N 0 obj`` headers they point at, stream payloads sliced by
    ``/Length`` (and the ``endstream`` keyword required right after),
    FlateDecode inflated, and every page content stream executed for
    its ``Tj`` operators with string-literal escapes undone."""
    if not raw.startswith(b"%PDF-"):
        raise ValueError(f"doc {doc_id}: missing PDF header")
    tail = raw[-64:]
    m = re.search(rb"startxref\s+(\d+)\s+%%EOF\s*$", tail)
    if not m:
        raise ValueError(f"doc {doc_id}: missing startxref/%%EOF tail")
    xref_at = int(m.group(1))
    if raw[xref_at : xref_at + 4] != b"xref":
        if raw[xref_at : xref_at + 1].isdigit():
            raise NotImplementedError(
                "cross-reference streams (PDF 1.5+) not implemented"
            )
        raise ValueError(f"doc {doc_id}: startxref points at garbage")
    hdr = re.match(
        rb"xref\s+(\d+)\s+(\d+)\s*\n", raw[xref_at : xref_at + 64]
    )
    if not hdr or int(hdr.group(1)) != 0:
        raise ValueError(f"doc {doc_id}: unsupported xref subsections")
    count = int(hdr.group(2))
    entries_at = xref_at + hdr.end()
    offsets = []
    for i in range(count):
        entry = raw[entries_at + 20 * i : entries_at + 20 * (i + 1)]
        if len(entry) != 20 or entry[17:18] not in (b"n", b"f"):
            raise ValueError(f"doc {doc_id}: malformed xref entry {i}")
        offsets.append((int(entry[:10]), entry[17:18] == b"n"))
    trailer_m = re.search(
        rb"trailer\s*<<(.*?)>>", raw[entries_at + 20 * count :], re.S
    )
    if not trailer_m:
        raise ValueError(f"doc {doc_id}: missing trailer")
    trailer = trailer_m.group(1)
    size_m = re.search(rb"/Size\s+(\d+)", trailer)
    if not size_m or int(size_m.group(1)) != count:
        raise ValueError(f"doc {doc_id}: trailer /Size disagrees with xref")
    if re.search(rb"/Encrypt", trailer):
        raise NotImplementedError("encrypted PDFs not implemented")

    n_objects = n_streams = n_flate = n_pages = 0
    text_chars = 0
    page_contents: dict[int, int] = {}
    streams: dict[int, bytes] = {}
    for num, (off, in_use) in enumerate(offsets):
        if num == 0 or not in_use:
            continue
        head = re.match(
            rb"(\d+)\s+\d+\s+obj\b", raw[off : off + 32]
        )
        if not head or int(head.group(1)) != num:
            raise ValueError(
                f"doc {doc_id}: xref offset for object {num} points at "
                "the wrong place"
            )
        n_objects += 1
        body_at = off + head.end()
        # classify the object BEFORE scanning for endobj: a stream
        # payload is arbitrary binary (Flate output can contain the
        # bytes "endobj" or "stream"), so the payload must be sliced
        # by /Length — never bounded by a keyword scan through it.
        # The dict between the header and the stream keyword is text,
        # so whichever of "stream\n" / "endobj" occurs FIRST decides.
        sm = re.compile(rb"stream\r?\n").search(raw, body_at)
        eo = raw.find(b"endobj", body_at)
        if sm is not None and (eo == -1 or sm.start() < eo):
            sdict = raw[body_at : sm.start()]
            lm = re.search(rb"/Length\s+(\d+)", sdict)
            if not lm:
                raise ValueError(
                    f"doc {doc_id}: stream object {num} missing /Length"
                )
            length = int(lm.group(1))
            data = raw[sm.end() : sm.end() + length]
            if len(data) != length:
                raise ValueError(
                    f"doc {doc_id}: stream {num} shorter than /Length"
                )
            after = raw[sm.end() + length : sm.end() + length + 32]
            if not re.match(rb"\s*endstream\s+endobj", after):
                raise ValueError(
                    f"doc {doc_id}: /Length of stream {num} does not "
                    "land on endstream"
                )
            fm = re.search(rb"/Filter\s*/(\w+)", sdict)
            if fm:
                if fm.group(1) != b"FlateDecode":
                    raise NotImplementedError(
                        f"PDF filter {fm.group(1).decode()} not "
                        "implemented (FlateDecode only)"
                    )
                try:
                    data = zlib.decompress(data)
                except zlib.error as exc:
                    raise ValueError(
                        f"doc {doc_id}: bad Flate stream {num}: {exc}"
                    ) from None
                n_flate += 1
            n_streams += 1
            streams[num] = data
        else:
            if eo == -1:
                raise ValueError(
                    f"doc {doc_id}: object {num} missing endobj"
                )
            obj = raw[body_at:eo]
            if re.search(rb"/Type\s*/Page\b", obj):
                n_pages += 1
                cm = re.search(rb"/Contents\s+(\d+)\s+0\s+R", obj)
                if not cm:
                    raise ValueError(
                        f"doc {doc_id}: page object {num} has no "
                        "/Contents"
                    )
                page_contents[num] = int(cm.group(1))
    for page, content in sorted(page_contents.items()):
        if content not in streams:
            raise ValueError(
                f"doc {doc_id}: page {page} references missing stream "
                f"{content}"
            )
        for sm2 in _STRING_RE.finditer(streams[content]):
            lit = sm2.group(0)
            lit = lit[1 : lit.rindex(b")")]
            text_chars += len(_unescape(lit))
    if n_pages == 0:
        raise ValueError(f"doc {doc_id}: no pages")
    return n_objects, n_pages, n_streams, n_flate, text_chars


PDF_SCHEMA = (
    "doc_id long, n_objects long, n_pages long, n_streams long, "
    "n_flate long, text_chars long"
)


@decoder(PDF_SCHEMA)
def decode_pdf():
    """One PDF per row: ``parse_pdf``'s counts."""
    return lambda doc_id, raw: [parse_pdf(doc_id, raw)]


# --- Subtitles (SRT / WebVTT) ------------------------------------------
# Same clean-room, closed-form pattern as the PDF walk above; placed in
# this module because both feed the text-extraction tier of a corpus
# pipeline.


def srt_n_cues(doc_id: int) -> int:
    return 3 + doc_id % 4


def srt_cue_times(doc_id: int, i: int) -> tuple[int, int]:
    """Cue i's (start_ms, end_ms) closed forms — strictly increasing
    and non-overlapping across cues."""
    start = i * 2500 + doc_id % 500
    return start, start + 1200 + 100 * (doc_id % 5)


def srt_cue_text(text: str, doc_id: int, i: int) -> list[str]:
    """Cue i's 1-2 text lines: closed-form slices of the document,
    sanitized for the line-framed format — every whitespace character
    becomes "_" (length-preserving, so the oracle stays pure length
    arithmetic and no line can be blank or split) and only a
    zero-length slice becomes "-"."""
    lines = [text[5 * i : 5 * i + 18 + 2 * i]]
    if (doc_id + i) % 2 == 0:
        lines.append(text[40 + 3 * i : 40 + 3 * i + 11 + i])
    out = []
    for ln in lines:
        ln = "".join("_" if ch.isspace() else ch for ch in ln)
        out.append(ln if ln else "-")
    return out


def _fmt_ts(ms: int, sep: str) -> str:
    h, rem = divmod(ms, 3_600_000)
    m, rem = divmod(rem, 60_000)
    s, frac = divmod(rem, 1000)
    return f"{h:02d}:{m:02d}:{s:02d}{sep}{frac:03d}"


def make_subtitle_bytes(doc_id: int, text: str) -> bytes:
    """A real subtitle file: even docs SubRip (.srt — numeric cue
    index, ``HH:MM:SS,mmm --> HH:MM:SS,mmm``, comma millisecond
    separator), odd docs WebVTT (a ``WEBVTT`` header line, DOT
    millisecond separator, no cue numbers) — the two formats caption
    corpora actually mix, differing in exactly the details a single
    parser must dispatch on."""
    vtt = doc_id % 2 == 1
    sep = "." if vtt else ","
    out = ["WEBVTT", ""] if vtt else []
    for i in range(srt_n_cues(doc_id)):
        start, end = srt_cue_times(doc_id, i)
        if not vtt:
            out.append(str(i + 1))
        out.append(f"{_fmt_ts(start, sep)} --> {_fmt_ts(end, sep)}")
        out.extend(srt_cue_text(text, doc_id, i))
        out.append("")
    return "\n".join(out).encode()


def parse_subtitles(doc_id: int, raw: bytes) -> tuple[int, int, int, int, int]:
    """(is_vtt, n_cues, total_duration_ms, text_chars, n_lines) by
    parsing either format: the WEBVTT header selects the dialect
    (dot vs comma millisecond separator, optional cue numbers), each
    cue's timestamps are decomposed from HH:MM:SS back to
    milliseconds, end > start and monotone cue starts are enforced,
    and the payload lines are counted and measured.  Malformed
    timestamps, out-of-order cues, and a dialect-mismatched
    millisecond separator raise."""
    text = raw.decode("utf-8")
    lines = text.split("\n")
    pos = 0
    vtt = bool(lines) and lines[0].startswith("WEBVTT")
    sep = "." if vtt else ","
    if vtt:
        pos = 1
        while pos < len(lines) and lines[pos].strip():
            pos += 1  # header metadata lines
    ts_re = re.compile(
        r"^(\d{2}):(\d{2}):(\d{2})" + re.escape(sep)
        + r"(\d{3}) --> (\d{2}):(\d{2}):(\d{2})" + re.escape(sep)
        + r"(\d{3})$"
    )
    n_cues = total_dur = chars = n_lines = 0
    prev_start = -1
    while pos < len(lines):
        if not lines[pos].strip():
            pos += 1
            continue
        if not vtt:
            if not lines[pos].strip().isdigit():
                raise ValueError(
                    f"doc {doc_id}: SRT cue missing its numeric index"
                )
            if int(lines[pos]) != n_cues + 1:
                raise ValueError(
                    f"doc {doc_id}: cue numbers out of sequence"
                )
            pos += 1
        m = ts_re.match(lines[pos].strip())
        if not m:
            raise ValueError(
                f"doc {doc_id}: malformed cue timing {lines[pos]!r}"
            )
        h1, m1, s1, f1, h2, m2, s2, f2 = (int(g) for g in m.groups())
        start = ((h1 * 60 + m1) * 60 + s1) * 1000 + f1
        end = ((h2 * 60 + m2) * 60 + s2) * 1000 + f2
        if end <= start:
            raise ValueError(f"doc {doc_id}: cue ends before it starts")
        if start <= prev_start:
            raise ValueError(f"doc {doc_id}: cue starts out of order")
        prev_start = start
        pos += 1
        if pos >= len(lines) or not lines[pos].strip():
            raise ValueError(f"doc {doc_id}: cue has no text lines")
        while pos < len(lines) and lines[pos].strip():
            chars += len(lines[pos])
            n_lines += 1
            pos += 1
        n_cues += 1
        total_dur += end - start
    if n_cues == 0:
        raise ValueError(f"doc {doc_id}: no cues")
    return int(vtt), n_cues, total_dur, chars, n_lines


SUBTITLE_SCHEMA = (
    "doc_id long, is_vtt long, n_cues long, total_duration_ms long, "
    "text_chars long, n_lines long"
)


@decoder(SUBTITLE_SCHEMA)
def decode_subtitles():
    """One SRT/WebVTT file per row: ``parse_subtitles``'s counts."""
    return lambda doc_id, raw: [parse_subtitles(doc_id, raw)]
