"""Property-based tests (hypothesis) for the engine's pure-Python parts.

The reference has no property testing (SURVEY.md §5); these cover the
driver-side functions whose bugs would silently skew distributed results:
partition-path math and the oracle canonicalization the whole parity
suite trusts.
"""

from __future__ import annotations

import datetime as dt
import random
import string

from struct import error as struct_error

from hypothesis import given, settings
from hypothesis import strategies as st

from open_source_etl_spark.ingest.partitioner import MONTH_NAMES, partition_suffix
from open_source_etl_spark.oracle import canonical_rows

dates = st.dates(min_value=dt.date(1970, 1, 1), max_value=dt.date(2100, 12, 31))


@given(dates)
def test_partition_suffix_matches_strftime_rule(d):
    """The engine rule must equal the reference's formatting exactly:
    month = strftime('%B').lower(), year/day = plain ints, trailing
    slash (`partitioner.py:13-25`)."""
    assert partition_suffix(d) == f"{d.year}/{d.strftime('%B').lower()}/{d.day}/"


@given(dates)
def test_partition_suffix_roundtrips(d):
    year, month, day, tail = partition_suffix(d).split("/")
    assert tail == ""
    assert dt.date(int(year), MONTH_NAMES.index(month) + 1, int(day)) == d


_cell = st.one_of(
    st.none(),
    st.integers(min_value=-(2**31), max_value=2**31),
    st.floats(allow_nan=False, allow_infinity=False, width=64),
    st.text(alphabet=string.printable, max_size=20),
    st.booleans(),
)


@st.composite
def tables(draw):
    n_cols = draw(st.integers(min_value=1, max_value=5))
    cols = [f"c{i}" for i in range(n_cols)]
    n_rows = draw(st.integers(min_value=0, max_value=8))
    rows = [
        tuple(draw(_cell) for _ in range(n_cols)) for _ in range(n_rows)
    ]
    return cols, rows


@given(tables(), st.randoms())
@settings(max_examples=60)
def test_canonical_rows_is_permutation_invariant(table, rnd):
    """The oracle compare sorts rows and columns — shuffling either must
    not change the canonical form (this is what makes the value-hash
    order-insensitive)."""
    cols, rows = table
    base = canonical_rows(cols, rows)

    shuffled_rows = rows[:]
    rnd.shuffle(shuffled_rows)
    assert canonical_rows(cols, shuffled_rows) == base

    perm = list(range(len(cols)))
    rnd.shuffle(perm)
    perm_cols = [cols[i] for i in perm]
    perm_rows = [tuple(r[i] for i in perm) for r in rows]
    assert canonical_rows(perm_cols, perm_rows) == base


@given(st.floats(allow_nan=False, allow_infinity=False, width=64))
def test_canonical_float_tolerates_one_ulp(x):
    """Two floats within 1 ulp must canonicalize identically unless the
    9-significant-digit representation legitimately differs — the
    guarantee the parity suite leans on for engine-order noise."""
    import math

    y = math.nextafter(x, math.inf)
    cx, cy = canonical_rows(["v"], [(x,)]), canonical_rows(["v"], [(y,)])
    if f"{x:.9g}" == f"{y:.9g}":
        assert cx == cy


def test_ewma_matches_python_reference(spark, tmp_path):
    """window_ewma_bounded's array formulation must equal the plain
    Python recurrence on a seeded random series — pins the zip_with /
    sequence weight ordering (newest term gets weight alpha, the tail
    decays), which the DuckDB oracle checks only through its own
    equivalent SQL."""
    import datetime as _dt

    rnd = random.Random(7)
    rows = []
    eid = 0
    for uid in (0, 50, 100):
        t = _dt.datetime(2024, 1, 1)
        for _ in range(40):
            t += _dt.timedelta(minutes=rnd.randint(1, 90))
            rows.append((eid, t, uid, "view", round(rnd.uniform(-5, 5), 3), "{}"))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))

    from open_source_etl_spark.registry import all_queries

    got = {
        (r.user_id, r.event_id): r.ewma
        for r in all_queries()["window_ewma_bounded"](spark, str(tmp_path)).collect()
    }

    by_user: dict[int, list] = {}
    for eid_, t, uid, _, v, _p in rows:
        by_user.setdefault(uid, []).append((t, eid_, v))
    n_checked = 0
    for uid, evs in by_user.items():
        evs.sort()
        for i in range(len(evs)):
            xs = [v for _, _, v in evs[max(0, i - 15) : i + 1]]
            num = sum(x * 0.5 * 0.5 ** (len(xs) - 1 - k) for k, x in enumerate(xs))
            expect = round(num / (1 - 0.5 ** len(xs)), 6)
            assert abs(got[(uid, evs[i][1])] - expect) <= 1e-6, (uid, i)
            n_checked += 1
    assert n_checked == len(rows)


def test_pit_join_equals_asof_window_form(spark):
    """The interval-residual PIT join and the union/last_value ASOF
    window form are the same semantics — both attach the dimension state
    valid at fact time.  The engine registers the first and names the
    second as its high-version-count fallback; prove they agree on the
    fixture."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from open_source_etl_spark.catalog import load_table
    from open_source_etl_spark.registry import all_queries

    sf = "/root/testdata/sf0.001"
    pit = {
        r.state: (r.n_purchases, r.n_users, r.total_value)
        for r in all_queries()["warehouse_point_in_time_join"](spark, sf).collect()
    }

    ev = load_table(spark, sf, "events").filter(F.col("user_id").isNotNull())
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    nonp = F.col("event_type") != "purchase"
    # ASOF form: the state at a purchase is the last preceding
    # non-purchase event type, with consecutive-identical collapse being
    # a no-op for "latest value" semantics
    asof = (
        ev.select(
            "user_id",
            "event_type",
            "value",
            F.last(F.when(nonp, F.col("event_type")), ignorenulls=True)
            .over(w)
            .alias("state"),
        )
        .filter((F.col("event_type") == "purchase") & F.col("state").isNotNull())
        .groupBy("state")
        .agg(
            F.count("*").alias("n_purchases"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 4
            ).alias("total_value"),
        )
    )
    asof_d = {
        r.state: (r.n_purchases, r.n_users, r.total_value) for r in asof.collect()
    }
    assert pit == asof_d


@given(
    st.lists(st.integers(min_value=0, max_value=3), min_size=1, max_size=2000),
)
@settings(max_examples=200, deadline=None)
def test_gif_lzw_roundtrips_any_index_sequence(seq):
    """The GIF LZW encoder/decoder pair must round-trip EVERY index
    sequence — including pathological runs that hit the KwKwK code,
    width growth at each power-of-two table size, and (via long inputs)
    repeated dictionary pressure.  A width-pairing bug (the classic
    off-by-one between deferred and early code-size change) fails here
    within a few examples."""
    from open_source_etl_spark.multimodal.decode import gif_lzw_decode
    from open_source_etl_spark.multimodal.synth import _lzw_encode

    assert gif_lzw_decode(_lzw_encode(seq, 2), 2, len(seq)) == seq


# (value, n) field lists: n from 0 to 40 bits, value any n-bit integer
BIT_FIELDS = st.lists(
    st.integers(min_value=0, max_value=40).flatmap(
        lambda n: st.tuples(st.integers(0, (1 << n) - 1), st.just(n))
    ),
    max_size=60,
)


@given(BIT_FIELDS, st.lists(st.integers(-(1 << 20), 1 << 20), max_size=20))
@settings(max_examples=200, deadline=None)
def test_msb_bits_roundtrip(fields, golomb):
    """Fields written by MsbWriter (fixed-width, then signed exp-Golomb)
    read back equal through MsbReader; past the zero padding, one more
    bit raises the reader's end-of-data message."""
    import pytest

    from open_source_etl_spark.multimodal.bits import MsbReader, MsbWriter

    w = MsbWriter()
    for v, n in fields:
        w.u(v, n)
    for v in golomb:
        w.se(v)
    w.align()
    data = w.to_bytes()
    r = MsbReader(data, "end of data")
    assert [r.u(n) for _, n in fields] == [v for v, _ in fields]
    assert [r.se() for _ in golomb] == golomb
    assert r.u(8 * len(data) - r.pos) == 0
    with pytest.raises(ValueError, match="^end of data$"):
        r.u(1)


@given(BIT_FIELDS)
@settings(max_examples=200, deadline=None)
def test_lsb_bits_roundtrip(fields):
    """Fields written by LsbWriter read back equal through LsbReader;
    past the zero padding, one more bit raises."""
    import pytest

    from open_source_etl_spark.multimodal.bits import LsbReader, LsbWriter

    w = LsbWriter()
    for v, n in fields:
        w.put(v, n)
    data = w.to_bytes()
    r = LsbReader(data, "end of data")
    assert [r.read(n) for _, n in fields] == [v for v, _ in fields]
    assert r.read(8 * len(data) - r.pos) == 0
    with pytest.raises(ValueError, match="^end of data$"):
        r.read(1)


@given(BIT_FIELDS)
@settings(max_examples=200, deadline=None)
def test_backward_bits_roundtrip(fields):
    """Fields written in decode order through ``backward_bytes`` read
    back equal through BackReader, which then holds no bits; one more
    bit raises."""
    import pytest

    from open_source_etl_spark.multimodal.bits import (
        BackReader,
        MsbWriter,
        backward_bytes,
    )

    w = MsbWriter()
    for v, n in fields:
        w.u(v, n)
    r = BackReader(0, backward_bytes(w))
    assert [r.read(n) for _, n in fields] == [v for v, _ in fields]
    assert r.bits_left == 0
    with pytest.raises(ValueError, match="backward bitstream exhausted"):
        r.read(1)


@st.composite
def prefix_codes(draw):
    """{symbol: length} of a prefix code up to 15 bits: a complete code
    grown by splitting leaves of a one-bit code, then, on half the
    draws, with leaves dropped (an incomplete code)."""
    leaves = [1, 1]
    for _ in range(draw(st.integers(0, 48))):
        i = draw(st.integers(0, len(leaves) - 1))
        if leaves[i] < 15:
            leaves[i : i + 1] = [leaves[i] + 1] * 2
    if draw(st.booleans()):
        keep = draw(st.lists(
            st.booleans(), min_size=len(leaves), max_size=len(leaves)
        ))
        leaves = [ln for ln, k in zip(leaves, keep) if k] or leaves[:1]
    symbols = draw(st.lists(
        st.integers(0, 511), min_size=len(leaves), max_size=len(leaves),
        unique=True,
    ))
    return dict(zip(symbols, leaves))


# bit order: (reader, writer, the writer's code and plain writes, the
#             reader's plain read, its ``bad`` text, the raise it gives)
PREFIX_READERS = {
    "msb": ("MsbReader", "MsbWriter", "u", "u", "u", "no code", "no code"),
    "lsb": (
        "LsbReader", "LsbWriter", "put_code", "put", "read", "no {} code",
        "no test code",
    ),
}


@given(prefix_codes(), st.sampled_from(sorted(PREFIX_READERS)), st.data())
@settings(max_examples=300, deadline=None)
def test_prefix_code_roundtrip(lengths, order, data):
    """Canonical codes from ``canonical_codes``, written through
    either writer, read back through that bit order's ``read_symbol``;
    a stream cut mid-code raises ``eof``; bits that no code prefixes
    raise ``bad`` exactly when 16 or more bits remain, else ``eof``."""
    import pytest

    from open_source_etl_spark.multimodal import bits

    reader_name, writer_name, code_name, put_name, skip_name, bad, raised = (
        PREFIX_READERS[order]
    )
    pairs = bits.by_length(lengths)
    table = bits.symbol_lut(pairs)
    book = bits.code_book(pairs)

    def stream(symbols, lead=0, after=0):
        """Bytes of ``lead`` zero bits, the codes of ``symbols`` (a
        symbol or a ``(code, nbits)`` pair), then ``after`` zero bits;
        and the bit count before ``after``."""
        w = getattr(bits, writer_name)()
        getattr(w, put_name)(0, lead)
        nbits = lead
        for s in symbols:
            code, n = s if isinstance(s, tuple) else book[s]
            getattr(w, code_name)(code, n)
            nbits += n
        getattr(w, put_name)(0, after)
        if order == "msb":
            w.align()
        return w.to_bytes(), nbits

    def reader(raw, lead):
        r = getattr(bits, reader_name)(raw, "end of data", bad)
        getattr(r, skip_name)(lead)
        return r

    def read(r):
        if order == "msb":
            return r.read_symbol(table)
        return r.read_symbol(table, "test")

    message = data.draw(st.lists(st.sampled_from(sorted(lengths)), max_size=40))
    raw, at = stream(message)
    r = reader(raw, 0)
    assert [read(r) for _ in message] == message

    # cut mid-code: the last code starts ``have`` bits before the end
    long = [s for s in lengths if lengths[s] > 1]
    if long:
        last = data.draw(st.sampled_from(long))
        have = data.draw(st.integers(1, min(lengths[last] - 1, 7)))
        lead = (8 - have - at) % 8
        raw, _ = stream(message + [last], lead)
        r = reader(raw[: (lead + at + have) // 8], lead)
        assert [read(r) for _ in message] == message
        with pytest.raises(ValueError, match="^end of data$"):
            read(r)

    # bits no code prefixes (an unused slot), then ``after`` more bits
    slots, k = table
    unused = [i for i, e in enumerate(slots) if e is None]
    if unused:
        slot = data.draw(st.sampled_from(unused))
        raw, _ = stream(message + [(slot, k)], 0, data.draw(st.integers(0, 24)))
        r = reader(raw, 0)
        assert [read(r) for _ in message] == message
        left = 8 * len(raw) - r.pos
        with pytest.raises(
            ValueError, match=f"^{raised if left >= 16 else 'end of data'}$"
        ):
            read(r)


def test_prefix_code_overflow_is_unreachable():
    """More codes of a length than it has bit strings (a corrupt JPEG
    DHT can say so): the extra code keeps its overflowed value, and no
    slot of the peek table reaches it."""
    from open_source_etl_spark.multimodal import bits

    pairs = ((7, 1), (8, 1), (9, 1), (10, 2))
    assert bits.canonical_codes(pairs) == {
        (1, 0): 7, (1, 1): 8, (1, 2): 9, (2, 6): 10,
    }
    assert bits.symbol_lut(pairs) == ([(1, 7), (1, 7), (1, 8), (1, 8)], 2)


@given(
    profile=st.sampled_from([66, 77, 88]),
    level=st.integers(min_value=9, max_value=52),
    w_m1=st.integers(min_value=0, max_value=511),
    h_m1=st.integers(min_value=0, max_value=511),
)
@settings(max_examples=200, deadline=None)
def test_h264_sps_roundtrips_any_fields(profile, level, w_m1, h_m1):
    """The SPS encoder/parser pair must round-trip ANY in-range
    profile/level/dimension combination — exp-Golomb widths up to
    ue(511) (19 bits) exercise multi-byte codes the fixture's small
    dimensions never reach.  (The encoder writes the pre-High layout,
    so profiles stay in that tier; the parser's High-profile
    chroma-format branch is exercised by a handcrafted SPS in
    test_multimodal.py.)"""
    from open_source_etl_spark.multimodal.decode import parse_sps
    from open_source_etl_spark.multimodal.synth import _h264_sps_from_fields

    got = parse_sps(0, _h264_sps_from_fields(profile, level, w_m1, h_m1))
    assert got == (profile, level, 16 * (w_m1 + 1), 16 * (h_m1 + 1))


@given(
    mdb=st.integers(min_value=0, max_value=511),
    fields=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=4095),  # part2_3_length
            st.integers(min_value=0, max_value=288),   # big_values
            st.integers(min_value=0, max_value=255),   # global_gain
            st.integers(min_value=0, max_value=15),    # scalefac_compress
        ),
        min_size=2,
        max_size=2,
    ),
)
@settings(max_examples=200, deadline=None)
def test_mp3_side_info_roundtrips_any_fields(mdb, fields):
    """The side-info bit layout must round-trip ANY in-range field
    values — all-ones and all-zeros patterns catch shift/mask errors
    the fixture's modular closed forms can miss."""
    from open_source_etl_spark.multimodal.bits import MsbWriter
    from open_source_etl_spark.multimodal.decode import parse_mp3_side_info

    w = MsbWriter()
    w.u(mdb, 9)
    w.u(0, 5)
    w.u(0, 4)
    for p23, bv, gg, sfc in fields:
        w.u(p23, 12); w.u(bv, 9); w.u(gg, 8); w.u(sfc, 4)
        w.u(0, 1)              # long-block branch
        w.u(31, 5); w.u(0, 5); w.u(17, 5)  # table_select x3
        w.u(15, 4); w.u(7, 3)  # region counts (all-ones patterns)
        w.u(1, 1); w.u(0, 1); w.u(1, 1)
    got_mdb, got = parse_mp3_side_info(0, w.to_bytes())
    assert got_mdb == mdb
    assert got == [(p23, bv, gg) for p23, bv, gg, _ in fields]


@given(
    st.integers(min_value=0, max_value=10_000),
    st.text(
        # '<' and '>' excluded: the WARC fixture wraps text in HTML and
        # the tag stripper would (correctly) eat them — the documents
        # corpus never contains angle brackets
        alphabet=st.characters(
            blacklist_categories=("Cs",), blacklist_characters="<>"
        ),
        max_size=400,
    ),
)
@settings(max_examples=60, deadline=None)
def test_container_parsers_roundtrip_any_text(doc_id, text):
    """WARC/ZIP/TAR synth+parse agree with the closed forms for ANY
    document text (unicode, empty, newline-ridden) — the oracle
    restatement the registered queries rely on."""
    from open_source_etl_spark.ingest.archives import (
        archive_member_text,
        archive_n_members,
        make_tar_bytes,
        make_zip_bytes,
        parse_tar,
        parse_zip,
    )
    from open_source_etl_spark.ingest.warc import (
        make_warc_bytes,
        parse_warc,
        warc_n_pages,
        warc_page_params,
    )

    np_ = archive_n_members(doc_id)
    slices = [archive_member_text(text, k) for k in range(np_)]
    exp_chars = sum(len(s) for s in slices)
    exp_bytes = sum(len(s.encode()) for s in slices)
    assert parse_zip(doc_id, make_zip_bytes(doc_id, text)) == (
        np_, exp_chars, exp_bytes + 4,
    )
    # odd members add a GNU @LongLink entry (1 header + 1 name block);
    # member 2, when present, adds a pax 'x' extended header (1 header
    # + 1 record block)
    blocks = (
        2
        + sum(1 + (len(s.encode()) + 511) // 512 for s in slices)
        + 2 * (np_ // 2)
        + (2 if np_ >= 3 else 0)
    )
    assert parse_tar(doc_id, make_tar_bytes(doc_id, text)) == (
        np_, exp_chars, blocks,
    )

    n_rec, n_resp, n_ok, chars, _ = parse_warc(
        doc_id, make_warc_bytes(doc_id, text)
    )
    pages = warc_n_pages(doc_id)
    exp_ok = exp_tc = 0
    for k in range(pages):
        status, _start, length = warc_page_params(doc_id, k, len(text))
        if status == 200:
            exp_ok += 1
            exp_tc += length + (9 if k == 0 else 0)
    assert (n_rec, n_resp, n_ok, chars) == (1 + 2 * pages, pages, exp_ok, exp_tc)


@given(st.binary(min_size=1, max_size=600))
@settings(max_examples=80, deadline=None)
def test_container_parsers_never_hang_on_garbage(raw):
    """Arbitrary bytes either raise cleanly or parse to sane counts —
    no hangs, no negative sizes, no silent wrong types."""
    from open_source_etl_spark.ingest.archives import parse_tar, parse_zip
    from open_source_etl_spark.ingest.warc import parse_warc

    for parser in (parse_zip, parse_tar, parse_warc):
        try:
            out = parser(0, raw)
        except (ValueError, NotImplementedError, UnicodeDecodeError,
                struct_error, OverflowError):
            continue
        assert all(isinstance(v, int) and v >= 0 for v in out)
