"""Property-based hardening (hypothesis) for the pure-Python codecs and
parsers — no SparkSession needed, so these run in milliseconds."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from debezium_spark.functions.avro import _zigzag_decode, _zigzag_encode
from debezium_spark.operators.schema_evolution import (
    _split_top_level,
    parse_ddl_sql,
    sql_type_to_spark,
)

_RESERVED = {"KEY", "INDEX", "PRIMARY", "UNIQUE", "FOREIGN", "CONSTRAINT",
             "FULLTEXT", "SPATIAL", "CHECK", "PARTITION", "ADD", "DROP",
             "RENAME", "CHANGE", "MODIFY", "ALTER", "COLUMN", "TO", "AS"}
IDENT = st.from_regex(r"[A-Za-z_][A-Za-z0-9_]{0,20}", fullmatch=True).filter(
    lambda s: s.upper() not in _RESERVED  # unquoted reserved words aren't legal column names
)
SQL_TYPES = st.sampled_from(
    ["INT", "BIGINT", "VARCHAR(32)", "TEXT", "DECIMAL(10,2)", "DOUBLE",
     "BOOLEAN", "DATE", "TIMESTAMP", "MEDIUMBLOB", "ENUM('a','b')", "UUID"]
)


@given(st.integers(min_value=-(2**63), max_value=2**63 - 1))
@settings(max_examples=300)
def test_zigzag_roundtrip_any_64bit(n):
    enc = _zigzag_encode(n)
    dec, off = _zigzag_decode(enc, 0)
    assert dec == n and off == len(enc)
    assert len(enc) <= 10  # spec bound for 64-bit varints


@given(st.lists(st.tuples(IDENT, SQL_TYPES), min_size=1, max_size=6,
                unique_by=lambda t: t[0]))
@settings(max_examples=100)
def test_create_table_roundtrips_arbitrary_columns(cols):
    pk = cols[0][0]
    body = ", ".join(f"{n} {t}" for n, t in cols) + f", PRIMARY KEY ({pk})"
    ops = parse_ddl_sql(f"CREATE TABLE db1.t1 ({body})")
    assert len(ops) == 1
    op = ops[0]
    assert op[0] == "create_table" and op[1] == "db1" and op[2] == "t1"
    assert [c[0] for c in op[3]] == [n for n, _ in cols]
    assert all(sql_type_to_spark(t) == c[1] for (_, t), c in zip(cols, op[3]))
    assert op[4] == [pk]


@given(st.lists(st.tuples(IDENT, SQL_TYPES), min_size=1, max_size=5,
                unique_by=lambda t: t[0]))
@settings(max_examples=100)
def test_multi_statement_alter_adds_parse_in_order(cols):
    script = "; ".join(f"ALTER TABLE t ADD COLUMN {n} {t}" for n, t in cols) + ";"
    ops = parse_ddl_sql(script)
    assert [o[1] for o in ops] == [n for n, _ in cols]
    assert all(o[0] == "add" for o in ops)


@given(st.lists(st.text(alphabet="ab,()'\"; ", max_size=12), min_size=1, max_size=5))
@settings(max_examples=200)
def test_clause_and_statement_splitters_never_crash(parts):
    """Splitters are total functions over arbitrary hostile input (unclosed
    quotes, unbalanced parens) — they may split oddly, never raise, and
    never invent characters outside the input."""
    text = ",".join(parts)
    for out in (_split_top_level(text, ","),
                _split_top_level(text.replace(",", ";"), ";")):
        assert isinstance(out, list)
        for piece in out:
            assert set(piece) <= set(text) | {";"}


@given(st.text(alphabet=st.characters(codec="utf-8"), max_size=80))
@settings(max_examples=200)
def test_parse_ddl_sql_total_on_arbitrary_text(s):
    """The SQL front-end never raises on arbitrary text — unparseable
    statements are history-only (empty op list), matching the reference's
    tolerant-parse contract."""
    ops = parse_ddl_sql(s)
    assert isinstance(ops, list)


@given(
    st.integers(-5, 40), st.integers(-5, 40), st.integers(-5, 40),
    st.integers(0, 30), st.integers(0, 90),
    st.integers(0, 10**6), st.integers(0, 999_999_999),
)
@settings(max_examples=200)
def test_interval_regex_matches_toIsoString_forms(y, mo, d, h, mi, s, ns):
    """Interval.toIsoString emits P{y}Y{mo}M{d}DT{h}H{mi}M{s}S with any
    magnitudes (months can exceed 12, seconds fractional, components
    negative) — the parser regex must match every such form."""
    import re
    from debezium_spark.functions.typeconv import _ISO8601_INTERVAL

    frac = f".{ns:09d}".rstrip("0") if ns else ""
    text = f"P{y}Y{mo}M{d}DT{h}H{mi}M{s}{frac}S"
    m = re.match(_ISO8601_INTERVAL, text)
    assert m is not None
    assert int(m.group(1)) == y and int(m.group(2)) == mo and int(m.group(3)) == d
    assert float(m.group(6)) == float(f"{s}{frac}")


@given(st.text(alphabet="abc'() ,0123456789DEFAULT", max_size=40))
@settings(max_examples=300)
def test_default_extractor_total(junk):
    """_extract_default never raises on hostile clause tails and only ever
    returns a literal the grammar accepts."""
    import re
    from debezium_spark.operators.schema_evolution import _DEFAULT_RE, _extract_default

    out = _extract_default(junk)
    if out is not None:
        assert out == "TRUE" or out == "FALSE" or re.match(
            r"^(?:'(?:[^']|'')*'|-?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)$", out)


@given(st.lists(st.sampled_from(
    ["ADD COLUMN x INT DEFAULT 5", "DROP COLUMN y", "ADD PRIMARY KEY (k)",
     "DROP PRIMARY KEY", "RENAME COLUMN a TO b", "MODIFY COLUMN c BIGINT",
     "ALTER COLUMN c SET DEFAULT 'z'", "ALTER COLUMN c DROP DEFAULT"]),
    min_size=1, max_size=5))
@settings(max_examples=100)
def test_alter_clause_lists_parse_in_order_without_crash(clauses):
    ops = parse_ddl_sql("ALTER TABLE t " + ", ".join(clauses))
    # every clause produces at least zero ops and parsing is total;
    # clause order is preserved for the op-producing ones
    kinds = [o[0] for o in ops]
    expect = {"ADD COLUMN": "add", "DROP COLUMN": "drop", "ADD PRIMARY": "set_pk",
              "DROP PRIMARY": "drop_pk", "RENAME": "rename", "MODIFY": "widen",
              "SET DEFAULT": "set_default", "DROP DEFAULT": "set_default"}
    want = []
    for c in clauses:
        for pref, k in expect.items():
            if pref in c:
                want.append(k)
                break
    assert kinds == want


@given(st.text(alphabet="abcxyzAFTERIST_ '`,()0", max_size=40))
@settings(max_examples=300)
def test_position_extractor_never_fires_inside_quotes(junk):
    """A FIRST/AFTER appearing only inside a quoted COMMENT string must
    never fabricate a reorder op; and the extractor is total on junk."""
    from debezium_spark.operators.schema_evolution import _extract_position

    _extract_position(junk)  # total: never raises
    comment = junk.replace("'", "''")
    ops = parse_ddl_sql(f"ALTER TABLE t ADD COLUMN c INT COMMENT '{comment}'")
    assert ("reorder", "c", None) not in ops
    assert all(op[0] != "reorder" for op in ops)


@given(IDENT)
@settings(max_examples=100)
def test_position_extractor_roundtrips_any_anchor(anchor):
    """AFTER <any legal identifier> (bare or backquoted) extracts that
    exact anchor; FIRST wins only at clause end."""
    from debezium_spark.operators.schema_evolution import _extract_position

    assert _extract_position(f" NOT NULL AFTER {anchor}") == (anchor,)
    assert _extract_position(f" AFTER `{anchor}`") == (anchor,)
    assert _extract_position(" NOT NULL FIRST") == (None,)
    assert _extract_position(" NOT NULL") is None


@given(st.integers(min_value=0, max_value=2**63 - 1))
@settings(max_examples=200)
def test_bitstring_default_decimal_roundtrip(n):
    """DEFAULT b'<bits>' normalizes to the decimal the bits encode."""
    ops = parse_ddl_sql(f"ALTER TABLE t ADD COLUMN c BIGINT DEFAULT b'{n:b}'")
    assert ops == [("add", "c", "long", str(n))]


@given(st.integers(min_value=-(10**38 - 1), max_value=10**38 - 1))
@settings(max_examples=300)
def test_unscaled_bytes_roundtrip_and_minimal(n):
    """_unscaled_bytes is a bijection with int.from_bytes at any decimal-38
    magnitude AND minimal: stripping the leading byte must change the
    value (review r5: -128 carried a sign-extension byte)."""
    from debezium_spark.functions.avro import _unscaled_bytes

    b = _unscaled_bytes(n)
    assert int.from_bytes(b, "big", signed=True) == n
    if len(b) > 1:
        assert int.from_bytes(b[1:], "big", signed=True) != n


@given(
    st.integers(min_value=-(10**38 - 1), max_value=10**38 - 1),
    st.integers(min_value=0, max_value=20),
)
@settings(max_examples=300)
def test_exact_decimal_unscaled_inverse(unscaled, scale):
    """_exact_decimal/_exact_unscaled are exact inverses at ANY precision —
    no thread-context rounding (review r5: Decimal.scaleb rounded past 28
    significant digits)."""
    from debezium_spark.functions.avro import _exact_decimal, _exact_unscaled

    d = _exact_decimal(unscaled, scale)
    assert _exact_unscaled(d, scale) == unscaled
    # the rendered string re-parses to the same unscaled int too
    from decimal import Decimal

    assert _exact_unscaled(Decimal(str(d)), scale) == unscaled


# --- binary wire codec (sources/wire.py) -----------------------------------

from debezium_spark.sources.wire import (  # noqa: E402
    _COLUMNS,
    _pack_one,
    _unpack_one,
)

_WIRE_LONG = st.none() | st.integers(min_value=-(2**63) + 1, max_value=2**63 - 1)
# identifier fields: any unicode (incl. '', which must stay distinct from
# null on the wire), bounded under the u16 length cap
_WIRE_STR = st.none() | st.text(max_size=80)
_WIRE_JSON = st.none() | st.text(max_size=200)


@given(
    st.tuples(*([_WIRE_LONG] * 5)),
    st.tuples(*([_WIRE_STR] * 7)),
    _WIRE_JSON,
    _WIRE_JSON,
)
@settings(max_examples=300)
def test_wire_frame_roundtrips_any_field_values(longs, strs, before, after):
    """Every v2 frame field — including nulls, empty strings, negative and
    >2^53 longs, non-ASCII text — must round-trip identically."""
    frame = _pack_one(longs, strs, before, after)
    assert _unpack_one(frame) == (*longs, *strs, before, after)


@given(
    st.binary(max_size=40),
    st.integers(min_value=0, max_value=200),
    st.binary(min_size=1, max_size=4),
)
@settings(max_examples=300)
def test_wire_unpack_total_on_mutated_frames(prefix, cut, noise):
    """The decoder is TOTAL: any byte mutation of a real frame (truncate,
    splice, prepend garbage) yields either a full 16-tuple or the all-null
    poison tuple — never an exception (one corrupt frame must quarantine,
    not abort the Arrow task)."""
    base = _pack_one((1, 2, 3, None, 5), ("u", "f", "db", "t", None, "", "x"),
                     '{"a":1}', None)
    for buf in (prefix + base, base[:cut], base[:cut] + noise + base[cut:]):
        out = _unpack_one(buf)
        assert isinstance(out, tuple) and len(out) == len(_COLUMNS)


@given(st.text(max_size=30))
@settings(max_examples=100)
def test_wire_truncation_mid_string_poisons_not_clips(s):
    """Dropping the last byte of a frame with a non-empty trailing field
    must poison the row, never silently clip the value (exact-length gate)."""
    frame = _pack_one((1, None, None, None, None),
                      ("c", None, None, None, None, None, None), None, s + "!")
    assert _unpack_one(frame[:-1]) == (None,) * len(_COLUMNS)


def test_wire_oversized_identifier_encodes_poison_not_raise():
    """An identifier past the u16 cap is upstream corruption: it must encode
    as the all-null poison frame (quarantines downstream), never raise and
    abort the Arrow task (final sweep r5)."""
    frame = _pack_one((1, 2, 3, 4, 5),
                      ("c", "x" * 70000, None, None, None, None, None),
                      None, '{"a":1}')
    assert _unpack_one(frame) == (None,) * len(_COLUMNS)


# ---- Avro schema-resolution fuzz (writer → random evolution → reader) ------
#
# The from-spec codec's riskiest surface is _resolution_map: a random
# writer record, a random legal evolution (drop / add-with-null-default /
# reorder / primitive promotion), and the decoded+remapped datum must equal
# the hand-computed expectation (Avro 1.11 "Schema Resolution").

import datetime as _dt
from decimal import Decimal as _D

from pyspark.sql.types import (
    ArrayType, BinaryType, BooleanType, DateType, DecimalType, DoubleType,
    FloatType, IntegerType, LongType, MapType, StringType, StructField,
    StructType,
)

from debezium_spark.functions.avro import _dec_for, _enc_for, _resolution_map

_ASCII = st.text(st.characters(min_codepoint=32, max_codepoint=126), max_size=12)

#: base name → (writer DataType, value strategy)
_BASES = {
    "int": (IntegerType(), st.integers(-(10**6), 10**6)),
    "bigint": (LongType(), st.integers(-(2**62), 2**62)),
    "float": (FloatType(), st.integers(-1000, 1000).map(float)),
    "double": (DoubleType(),
               st.floats(allow_nan=False, allow_infinity=True, width=64)),
    "string": (StringType(), st.text(max_size=12)),
    "binary": (BinaryType(), _ASCII.map(lambda s: s.encode("ascii"))),
    "boolean": (BooleanType(), st.booleans()),
    "date": (DateType(), st.dates()),
    "decimal": (DecimalType(12, 3),
                st.integers(-(10**9), 10**9).map(lambda n: _D(n) / 1000)),
    "arr": (ArrayType(LongType()),
            st.lists(st.one_of(st.none(), st.integers(-(2**62), 2**62)),
                     max_size=4)),
    "map": (MapType(StringType(), StringType()),
            st.dictionaries(_ASCII, st.one_of(st.none(), _ASCII), max_size=3)),
}

#: legal promotions per base: reader DataType + expected value transform
#: (mirrors the spec rules _PROMOTIONS implements — computed independently
#: here so the test is not tautological)
_EVOLVE = {
    "int": [(LongType(), lambda v: v), (DoubleType(), float),
            (DateType(), lambda v: _dt.date(1970, 1, 1) + _dt.timedelta(days=v))],
    "bigint": [(DoubleType(), float)],
    "float": [(DoubleType(), lambda v: v)],
    "string": [(BinaryType(), lambda v: v.encode("utf-8"))],
    "binary": [(StringType(), lambda v: v.decode("utf-8"))],
    "date": [(IntegerType(), lambda v: (v - _dt.date(1970, 1, 1)).days)],
    "decimal": [(DecimalType(20, 3), lambda v: v)],  # precision widen: free
    "arr": [(ArrayType(DoubleType()),
             lambda v: [None if x is None else float(x) for x in v])],
    "map": [],
    "double": [], "boolean": [],
}


@st.composite
def _evolution_case(draw):
    n = draw(st.integers(min_value=1, max_value=6))
    bases = draw(st.lists(st.sampled_from(sorted(_BASES)), min_size=n,
                          max_size=n))
    writer = StructType(
        [StructField(f"c{i}", _BASES[b][0]) for i, b in enumerate(bases)]
    )
    # evolution: keep-or-drop each field, optionally promote the kept ones,
    # optionally RENAME them (reader aliases — the spec's rename rule:
    # reader field n<i> declares alias c<i>, resolution reads the writer's
    # c<i> through it; composes with promotion)
    kept = []
    aliases = {}
    constrained = {}
    for i, b in enumerate(bases):
        if draw(st.booleans()):
            continue  # writer-only: skipped by resolution
        promos = _EVOLVE[b]
        pick = draw(st.integers(min_value=-1, max_value=len(promos) - 1))
        name = f"c{i}"
        if draw(st.booleans()):
            name = f"n{i}"
            aliases[name] = [f"c{i}"]
        if pick < 0:
            kept.append((name, f"c{i}", _BASES[b][0], lambda v: v))
        else:
            kept.append((name, f"c{i}", promos[pick][0], promos[pick][1]))
            if b == "int" and isinstance(promos[pick][0], DateType):
                # int→date promotion only makes sense for epoch days inside
                # the representable date range [0001-01-01, 9999-12-31];
                # out-of-range days are an unrepresentable frame and the
                # codec raises loudly by design, not a resolution case
                constrained[i] = st.integers(-719162, 2932896)
    order = draw(st.permutations(range(len(kept))))
    kept = [kept[i] for i in order]
    n_new = draw(st.integers(min_value=0, max_value=2))
    added = [
        (f"r{j}", _BASES[draw(st.sampled_from(sorted(_BASES)))][0])
        for j in range(n_new)
    ]
    reader = StructType(
        [StructField(nm, t) for nm, _, t, _ in kept]
        + [StructField(nm, t) for nm, t in added]
    )
    record = {
        f"c{i}": draw(st.one_of(st.none(), constrained.get(i, _BASES[b][1])))
        for i, b in enumerate(bases)
    }
    expected = {
        nm: (None if record[src] is None else xf(record[src]))
        for nm, src, _, xf in kept
    }
    expected.update({nm: None for nm, _ in added})
    return writer, reader, aliases, record, expected


@given(_evolution_case())
@settings(max_examples=200, deadline=None)
def test_avro_resolution_fuzz_decode_remap_matches_spec(case):
    writer, reader, aliases, record, expected = case
    out = bytearray()
    _enc_for(writer)(record, out)
    buf = bytes(out)
    datum, off = _dec_for(writer)(buf, 0)
    assert off == len(buf)  # decode consumes the frame exactly
    remap = _resolution_map(writer, reader, aliases or None)
    got = datum if remap is None else remap(datum)
    assert got == expected


# ---------------------------------------------------------------------------
# sink DDL quote masking (ddl_translate._mask_quoted)
# ---------------------------------------------------------------------------

@given(st.text(alphabet="ab` '\"rxfk;().,=", max_size=80))
@settings(max_examples=300, deadline=None)
def test_mask_quoted_is_total_length_preserving_and_quote_free(s):
    from debezium_spark.sink.ddl_translate import _mask_quoted

    m = _mask_quoted(s)
    assert len(m) == len(s)
    # a quote char always OPENS a span (itself masked), so none survive
    assert all(c not in "`'\"" for c in m)
    # every position is either untouched or blanked — never rewritten
    assert all(a == b or b == " " for a, b in zip(s, m))


@given(
    st.lists(
        st.tuples(
            st.sampled_from(["`", "'", '"']),
            st.text(alphabet="abc referncs key", max_size=20),
        ),
        min_size=1,
        max_size=5,
    )
)
@settings(max_examples=200, deadline=None)
def test_mask_quoted_blanks_keywords_inside_balanced_quotes(spans):
    from debezium_spark.sink.ddl_translate import _mask_quoted

    # interleave quoted spans (payload quote-doubled, so always balanced)
    # with unquoted filler that contains the keywords LEGITIMATELY
    parts, keyword_free_zones = [], []
    pos = 0
    for q, payload in spans:
        filler = " foreign key references t "
        parts.append(filler)
        pos += len(filler)
        quoted = q + payload.replace(q, q + q) + q
        parts.append(quoted)
        keyword_free_zones.append((pos, pos + len(quoted)))
        pos += len(quoted)
    s = "".join(parts)
    m = _mask_quoted(s)
    # inside every quoted span the mask is all spaces...
    for lo, hi in keyword_free_zones:
        assert m[lo:hi] == " " * (hi - lo)
    # ...and the unquoted keywords survive verbatim
    assert m.count("foreign key references t") == len(spans)
