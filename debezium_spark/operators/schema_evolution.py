"""DDL-driven schema evolution.

The reference parses DDL text with ANTLR grammars
(``debezium-connector-mysql/.../antlr/MySqlAntlrDdlParser.java`` +
``debezium-ddl-parser/``; the ALTER matrix exercised by
``MySqlAntlrDdlParserTest.java``) and historizes structured ``TableChanges``
JSON (``relational/history/JsonTableChangeSerializer.java:44-67,121-129``;
change types CREATE/ALTER/DROP at ``TableChanges.java:179-184``), replaying
the ledger on restart (``AbstractDatabaseHistory.java``).

Here DDL arrives as envelope rows with ``op='l'`` whose ``after.content``
carries either:

- structured TableChanges JSON (starts with ``{``): ``add_columns`` /
  ``drop_columns`` / ``rename_columns`` / ``modify_columns``; or
- raw SQL text: the common ALTER TABLE matrix (ADD/DROP/RENAME/CHANGE/
  MODIFY COLUMN, PG-style ALTER COLUMN ... TYPE), parsed by a bounded
  regex grammar (the sandbox ships neither ANTLR nor sqlglot; the grammar
  covers the column-evolution ALTER variants the reference's
  MySqlAntlrDdlParserTest exercises).

Applying a DDL is a **batch barrier**: events before it merge with the old
schema, events after with the new — enforced by the engine's segmentation
(SURVEY §3.3). One applier serves the per-table schema-history ledger
(``_schema_history.jsonl``): ``apply_schema_op`` applies one recorded
column op; live ``apply_ddl`` only decides what each parsed op becomes
(default resolution, degrade rules), applies it and appends the entry;
restart recovery (``replay_schema_history``) replays the recorded ops
through the same applier. Every alter is idempotent (re-add/re-drop/
re-rename/re-widen no-op), so crash/replay across a DDL is safe.

The JSONL ledger helpers at the end of this module (``ledger_read``,
``ledger_append``, ``ledger_fold``) are the file format of both control
ledgers: this one and ``MultiTableEngine``'s ``_catalog.jsonl``.
"""

from __future__ import annotations

import json
import os
import re

from debezium_spark.plans.table import DefaultEvaluationError, LakeTable
from debezium_spark.schema import offset_key

DDL_OP = "l"

# op tuples: ("add", name, spark_type[, default_sql]) | ("drop", name)
#            ("rename", old, new)      | ("widen", name, spark_type)
#            ("set_pk", [col, ...])    | ("drop_pk",)
#            ("set_default", name, default_sql|None)   # SET/DROP DEFAULT
# table-level statements (catalog mutations, relational/Tables.java):
#            ("create_table", db|None, table, [(col, spark_type[, default]), ...], [pk, ...])
#            ("drop_table", db|None, table)
#            ("truncate_table", db|None, table)
#            ("rename_table", db|None, old, db|None, new)
# ``default_sql`` is a Spark-SQL literal string (the reference's
# defaultValueExpression, relational/Column.java:136) or None.
DdlOp = tuple

#: ops that mutate the CATALOG (table set), not one table's columns —
#: consumed by MultiTableEngine; the single-table engine treats them as
#: history-only (except truncate_table, routed to the truncate barrier)
TABLE_LEVEL_OPS = ("create_table", "drop_table", "truncate_table", "rename_table")

_SQL_TO_SPARK = {
    "tinyint": "int", "smallint": "int", "int": "int", "integer": "int",
    "mediumint": "int", "bigint": "long", "int8": "long", "serial": "long",
    "float": "float", "real": "float", "double": "double",
    "double precision": "double", "numeric": "decimal(38,9)",
    "text": "string", "varchar": "string", "char": "string",
    "character varying": "string", "character": "string", "json": "string",
    "jsonb": "string", "clob": "string", "longtext": "string",
    "mediumtext": "string", "tinytext": "string",
    "date": "date", "timestamp": "timestamp", "datetime": "timestamp",
    "timestamptz": "timestamp", "time": "long",
    "blob": "binary", "bytea": "binary", "varbinary": "binary",
    "binary": "binary", "boolean": "boolean", "bool": "boolean", "bit": "long",
    # MySQL extras (MySqlAntlrDdlParser column-type matrix)
    "enum": "string", "set": "string", "year": "int",
    "tinyblob": "binary", "mediumblob": "binary", "longblob": "binary",
    "nchar": "string", "nvarchar": "string", "national varchar": "string",
    "national char": "string",
    # PG extras
    "smallserial": "int", "bigserial": "long", "uuid": "string",
    "inet": "string", "cidr": "string", "macaddr": "string",
    "interval": "long", "xml": "string", "money": "decimal(19,2)",
}


def sql_type_to_spark(sql_type: str) -> str:
    """SQL column type → Spark DDL type (the JdbcValueConverters column-type
    half of the matrix; value conversion lives in functions.typeconv)."""
    t = sql_type.strip().lower()
    m = re.match(r"^(decimal|numeric)\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)", t)
    if m:
        return f"decimal({m.group(2)},{m.group(3)})"
    m = re.match(r"^(decimal|numeric)\s*\(\s*(\d+)\s*\)", t)
    if m:
        return f"decimal({m.group(2)},0)"
    base = re.sub(r"\s*\(.*\)\s*$", "", t)  # varchar(255) → varchar
    base = re.sub(r"\s+unsigned$", "", base)
    if base in _SQL_TO_SPARK:
        return _SQL_TO_SPARK[base]
    raise ValueError(f"unmapped SQL type: {sql_type!r}")


def _type_or_none(sql_type: str) -> str | None:
    """Map a SQL type, or None for unmapped exotics — a raise here would
    crash-loop the stream forever on one DDL event (apply_ddl parses BEFORE
    the ledger write, so the exact-replay guard never engages — review r4);
    callers degrade per-op: ADD carries the column as text, MODIFY/CHANGE
    retypes stay history-only."""
    try:
        return sql_type_to_spark(sql_type)
    except ValueError:
        return None


def parse_table_changes(tc_json: str) -> list[DdlOp]:
    """Structured TableChanges JSON → op list (the serializer's column
    arrays, JsonTableChangeSerializer.java:187-233)."""
    doc = json.loads(tc_json)
    if doc.get("type") not in ("ALTER", "CREATE"):
        return []
    ops: list[DdlOp] = []
    for c in doc.get("add_columns", []):
        # TableChanges 'default' is the reference's raw defaultValueExpression
        # (arbitrary SQL text) — gate it through the same literal grammar as
        # the SQL front-end; non-literals drop to None (history keeps the
        # raw JSON) instead of reaching EXISTS_DEFAULT unvalidated
        raw = c.get("default")
        default = (
            _extract_default("DEFAULT " + str(raw)) if raw is not None else None
        )
        styp = c.get("type", "string")
        ops.append(("add", c["name"], styp, _zero_date_rule(
            default, styp, not_null=not c.get("optional", True))))
    for name in doc.get("drop_columns", []):
        ops.append(("drop", name))
    for r in doc.get("rename_columns", []):
        ops.append(("rename", r["from"], r["to"]))
    for c in doc.get("modify_columns", []):
        ops.append(("widen", c["name"], c.get("type", "string")))
    return ops


_IDENT = r'[`"\[]?([A-Za-z_][A-Za-z0-9_$]*)[`"\]]?'
# type = base word, optional PRECISION/VARYING second word, optional (p[,s]),
# optional UNSIGNED — bounded so trailing column constraints (NOT NULL,
# DEFAULT ..., COMMENT ..., AFTER col) are NOT swallowed into the type
_TYPE = (
    r"([A-Za-z]+(?:\s+(?:PRECISION|VARYING|VARCHAR|CHAR))?"
    r"(?:\s*\(\s*[^()]*\))?(?:\s+UNSIGNED)?)"
)


#: DEFAULT <literal> inside a column definition (the subset the lake can
#: evaluate at read time — Iceberg initial-defaults are likewise
#: literal-only). Non-literal defaults (CURRENT_TIMESTAMP, expressions,
#: sequences) parse to None: the DDL still applies and the raw text rides
#: the history ledger, but pre-ADD rows surface null, matching the
#: reference's behavior when a default expression cannot be evaluated
#: (DefaultValueParserListener converts what it can, skips the rest).
# NOTE: used via .match(clause, pos) — implicit anchoring at pos (an
# explicit ^ would anchor at string start and never match mid-clause)
_DEFAULT_RE = re.compile(
    r"(?is)DEFAULT\s+("
    r"'(?:[^']|'')*'"                       # string literal ('' escape)
    r"|[bB]'[01]+'"                         # MySQL bit-string (BIT_STRING)
    r"|[+-]?\s*\d+(?:\.\d+)?(?:[eE][+-]?\d+)?"  # signed numeric literal
    r"|TRUE|FALSE|NULL"
    r"|(?:CURRENT_TIMESTAMP|LOCALTIMESTAMP|CURRENT_DATE)(?:\s*\(\s*\d*\s*\))?"
    # evaluable now-functions; fsp digit allowed — MySQL NOW(6) must parse
    # like CURRENT_TIMESTAMP(6), not silently degrade (review r5 finding)
    r"|NOW\s*\(\s*\d*\s*\)"
    r")(?=\s|,|\)|$)"
)

#: sentinel for the evaluable now-function defaults (CURRENT_TIMESTAMP /
#: NOW() / LOCALTIMESTAMP / CURRENT_DATE): resolved by ``apply_ddl`` to the
#: DDL barrier's own ``ts_ms`` — deterministic and replay-stable, matching
#: the reference's DefaultValueParserListener evaluated subset (VERDICT r4
#: item 6). NUL can never appear in a parsed SQL literal, so the marker is
#: unforgeable from DDL text.
CURRENT_TS_MARKER = "\x00CURRENT_TIMESTAMP"

_NOW_FUNCS = re.compile(
    r"(?is)^(?:CURRENT_TIMESTAMP|LOCALTIMESTAMP|CURRENT_DATE|NOW)\s*(?:\(\s*\d*\s*\))?$"
)

# used via .match(clause, pos): anchoring is implicit at pos (see above)
_DEFAULT_WORD = re.compile(r"(?i)DEFAULT\b")


def _extract_default(clause: str) -> str | None:
    """Column-definition tail → Spark-SQL literal string for DEFAULT, or
    None (no default / NULL default / non-literal default).

    The DEFAULT keyword is located with a quote-aware scan, never inside a
    string literal — ``COMMENT 'DEFAULT 7 means auto'`` must not fabricate
    a default (review r4 finding: the naive regex search attached bogus
    defaults from quoted text, permanently corrupting pre-ADD rows)."""
    quote: str | None = None
    i, n = 0, len(clause)
    while i < n:
        ch = clause[i]
        if quote is not None:
            if ch == quote:
                if quote == "'" and i + 1 < n and clause[i + 1] == "'":
                    i += 1
                else:
                    quote = None
        elif ch in ("'", '"', "`"):
            quote = ch
        elif (ch in "Dd" and _DEFAULT_WORD.match(clause, i)
              and (i == 0 or not (clause[i - 1].isalnum() or clause[i - 1] in "_$"))):
            m = _DEFAULT_RE.match(clause, i)
            if not m:
                return None  # non-literal default (expression/function)
            lit = m.group(1)
            if lit.upper() == "NULL":
                return None
            if lit.upper() in ("TRUE", "FALSE"):
                return lit.upper()
            if _NOW_FUNCS.match(lit):
                return CURRENT_TS_MARKER
            if re.match(r"^[bB]'", lit):
                # bit-string → decimal (the reference's BIT_STRING branch,
                # DefaultValueParserListener.java:50 unquoteBinary; decimal
                # casts cleanly to any integral/bit-carrying lake type)
                return str(int(lit[2:-1], 2))
            if re.match(r"^[+-]", lit):
                # signed numeric (unaryOperator branch): normalize the
                # MySQL-legal space after the sign and the redundant '+'
                return re.sub(r"\s+", "", lit).lstrip("+")
            if lit.startswith("'"):
                # Normalize the source-dialect string literal to Spark SQL
                # (ADVICE r4): the grammar above is standard-conforming
                # (PG / MySQL NO_BACKSLASH_ESCAPES — backslash is a plain
                # character, '' escapes a quote), but Spark's literals are
                # backslash-escaped, so DEFAULT 'C:\dir' would silently
                # become 'C:dir' and a trailing backslash ('a\', valid PG)
                # would be a ParseException crash-loop. Decode to the value,
                # re-encode with backslashes doubled and quotes
                # backslash-escaped.
                val = lit[1:-1].replace("''", "'")
                return "'" + val.replace("\\", "\\\\").replace("'", "\\'") + "'"
            return lit
        i += 1
    return None


#: MySQL zero-date literals: '0000-00-00', '0000-00-00 00:00:00[.0...]',
#: or a bare 0 — only meaningful on date/timestamp columns
_ZERO_DATE = re.compile(r"^(?:'0000-00-00(?:[ T]00:00:00(?:\.0+)?)?'|0)$")


def _zero_date_rule(default: str | None, spark_type: str,
                    not_null: bool) -> str | None:
    """MySQL zero-date DEFAULTs on date/timestamp columns
    (``MySqlDefaultValueConverter.java:158-212``): nullable column → null,
    NOT NULL column → the epoch equivalent. Without this, Spark's
    non-ANSI CAST turns the literal into null regardless, silently
    violating the NOT NULL column's epoch fill. Shared by the raw-SQL
    parse (nullability from the column clause), the TableChanges-JSON
    parse (nullability from ``optional``), and the SET DEFAULT apply
    (lake columns are nullable → null) — review r5: the rule applied on
    only one of the three wire forms."""
    if default is None or not _ZERO_DATE.match(default):
        return default
    base = spark_type.lower().split("(")[0]
    if base not in ("date", "timestamp", "timestamp_ntz"):
        return default
    if not_null:
        return "'1970-01-01'" if base == "date" else "'1970-01-01 00:00:00'"
    return None


def _normalize_zero_date(default: str | None, spark_type: str,
                         clause: str) -> str | None:
    """Raw-SQL form of the zero-date rule: nullability read from the
    column definition clause (quote-aware)."""
    return _zero_date_rule(
        default, spark_type,
        bool(re.search(r"(?is)\bNOT\s+NULL\b", _strip_quoted(clause))),
    )


def _extract_position(clause_tail: str) -> tuple[str | None] | None:
    """Column-definition tail → MySQL placement suffix, or None.

    Returns a 1-tuple ``(anchor,)`` — ``(None,)`` for ``... FIRST``,
    ``("col",)`` for ``... AFTER col`` — so callers can distinguish "no
    placement" (None) from "place first" ((None,)). Quote-aware: keywords
    are searched in the quote-blanked text so ``COMMENT 'insert AFTER x'``
    never fabricates a reorder (the _extract_default fix class); the
    anchor identifier is then re-read from the ORIGINAL text at the same
    offset (``_strip_quoted`` is length-preserving but blanks quoted
    identifiers). Reference: MySqlAntlrDdlParserTest's FIRST/AFTER column
    placement matrix."""
    t = _strip_quoted(clause_tail)
    m = re.search(r"(?is)\bAFTER\s+", t)
    if m:
        m2 = re.match(_IDENT, clause_tail[m.end():])
        if m2:
            return (m2.group(1),)
    if re.search(r"(?is)\bFIRST\s*$", t):
        return (None,)
    return None


def _strip_quoted(text: str) -> str:
    """Blank out quoted string/identifier literals (quote chars preserved,
    contents replaced by spaces) so keyword searches (PRIMARY KEY, DEFAULT)
    can never match inside a COMMENT/DEFAULT string — the quote-awareness
    fix class of review r4, shared by every naive ``re.search`` here."""
    out = []
    quote: str | None = None
    i, n = 0, len(text)
    while i < n:
        ch = text[i]
        if quote is not None:
            if ch == quote:
                if quote == "'" and i + 1 < n and text[i + 1] == "'":
                    out.append("  ")
                    i += 2
                    continue
                quote = None
                out.append(ch)
            else:
                out.append(" ")
        elif ch in ("'", '"', "`"):
            quote = ch
            out.append(ch)
        else:
            out.append(ch)
        i += 1
    return "".join(out)


def _split_top_level(text: str, sep: str) -> list[str]:
    """Split on top-level ``sep`` (``,`` for an ALTER TABLE / CREATE TABLE
    clause list, ``;`` for a multi-statement script) — parens nest and
    quotes (single, double, backtick) shield, so a comma inside a string
    DEFAULT never fabricates a phantom column; a doubled '' inside a
    single-quoted literal stays inside it. Empty pieces drop."""
    out: list[str] = []
    cur: list[str] = []
    depth = 0
    quote: str | None = None
    i, n = 0, len(text)
    while i < n:
        ch = text[i]
        if quote is not None:
            cur.append(ch)
            if ch == quote:
                if quote == "'" and i + 1 < n and text[i + 1] == "'":
                    cur.append("'")
                    i += 1
                else:
                    quote = None
        elif ch == sep and depth == 0:
            out.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
            if ch in ("'", '"', "`"):
                quote = ch
            elif ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
        i += 1
    out.append("".join(cur).strip())
    return [p for p in out if p]


#: optionally db-qualified table name (each part optionally quoted)
_QTBL = r'([\w$]+|`[^`]+`|"[^"]+"|\[[^\]]+\])(?:\s*\.\s*([\w$]+|`[^`]+`|"[^"]+"|\[[^\]]+\]))?'


def _unquote(ident: str) -> str:
    ident = ident.strip()
    if ident and ident[0] in "`\"[":
        return ident[1:-1]
    return ident


def _qualified(g1: str, g2: str | None) -> tuple[str | None, str]:
    """regex groups (part1, part2|None) → (db|None, table)."""
    if g2 is None:
        return None, _unquote(g1)
    return _unquote(g1), _unquote(g2)


#: permissive dotted name (1..3 quoted-or-bare parts) for statement headers
_QTBL_ANY = (
    r'((?:[\w$]+|`[^`]+`|"[^"]+"|\[[^\]]+\])'
    r'(?:\s*\.\s*(?:[\w$]+|`[^`]+`|"[^"]+"|\[[^\]]+\])){0,2})'
)


def _qualified_any(raw: str) -> tuple[str | None, str]:
    """Dotted name with up to three parts (db[.schema].table, quote-aware
    split) → (db|None, table); a middle schema part is dropped — the lake
    namespace is two-level, matching the engine's (db, table) identity."""
    parts, cur, quote = [], [], None
    for ch in raw:
        if quote is not None:
            cur.append(ch)
            if ch == quote:
                quote = None
        elif ch in "`\"[":
            quote = "]" if ch == "[" else ch
            cur.append(ch)
        elif ch == ".":
            parts.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    parts.append("".join(cur).strip())
    parts = [_unquote(p) for p in parts if p]
    if len(parts) == 1:
        return None, parts[0]
    return parts[0], parts[-1]


def _parse_create_table(s: str) -> list[DdlOp]:
    """CREATE TABLE [IF NOT EXISTS] name (col defs..., PRIMARY KEY (...))
    → one ("create_table", db, table, columns, pk) op. Mirrors the
    reference's create-table listener feeding the catalog
    (MySqlAntlrDdlParser enterColumnCreateTable → Tables.overwriteTable).
    Table options after the closing paren (ENGINE=..., CHARSET, PARTITION
    BY, ...) are ignored; constraint clauses contribute only the PK."""
    m = re.match(
        rf"(?is)^CREATE\s+(?:TEMPORARY\s+)?TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?{_QTBL}\s*\(",
        s,
    )
    if not m:
        return []
    db, tbl = _qualified(m.group(1), m.group(2))
    # body = balanced-paren span starting at the '(' the header matched
    # (quote-aware: a ')' inside a string DEFAULT must not close the body)
    start = m.end() - 1
    depth = 0
    end = -1
    quote: str | None = None
    i = start
    while i < len(s):
        ch = s[i]
        if quote is not None:
            if ch == quote:
                if quote == "'" and i + 1 < len(s) and s[i + 1] == "'":
                    i += 1
                else:
                    quote = None
        elif ch in ("'", '"', "`"):
            quote = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                end = i
                break
        i += 1
    if end < 0:
        return []
    cols: list[tuple[str, str, str | None]] = []
    pk: list[str] = []
    for clause in _split_top_level(s[start + 1:end], ","):
        c = clause.strip()
        m2 = re.match(rf"(?is)^(?:CONSTRAINT\s+{_IDENT}\s+)?PRIMARY\s+KEY\s*\((.*)\)", c)
        if m2:
            pk = [_unquote(p.strip()) for p in m2.group(2).split(",") if p.strip()]
            continue
        if re.match(r"(?is)^(KEY|INDEX|UNIQUE|FOREIGN|FULLTEXT|SPATIAL|CHECK|CONSTRAINT)\b", c):
            continue
        m2 = re.match(rf"(?is)^{_IDENT}\s+{_TYPE}", c)
        if m2:
            name = m2.group(1)
            default = _extract_default(c[m2.end():])
            try:
                styp = sql_type_to_spark(m2.group(2))
            except ValueError:
                styp = "string"  # unmapped type: carry as text
            cols.append((name, styp, _normalize_zero_date(default, styp, c)))
            if re.search(r"(?is)\bPRIMARY\s+KEY\b", _strip_quoted(c)):
                pk.append(name)
    if not cols:
        return []
    return [("create_table", db, tbl, cols, pk)]


def parse_ddl_sql(sql: str) -> list[DdlOp]:
    """SQL-text DDL front-end. Covers the ALTER variants the reference's
    MySqlAntlrDdlParserTest exercises for column evolution: ADD [COLUMN]
    (single + parenthesized list), DROP [COLUMN], RENAME [COLUMN] a TO b,
    MySQL CHANGE [COLUMN] a b <type> (rename+retype) and MODIFY [COLUMN]
    col <type>, PG ALTER [COLUMN] col [SET DATA] TYPE <type>.
    ``FIRST`` / ``AFTER col`` placement suffixes on ADD/CHANGE/MODIFY
    parse to a ``reorder`` op (schema field order — MySQL SELECT-* order
    parity); other column constraints after the type (NOT NULL, COMMENT,
    COLLATE, …) are ignored — they don't change the lake schema.

    Table-level statements parse to catalog ops: CREATE TABLE (column list
    + PRIMARY KEY), DROP TABLE [IF EXISTS] (multi-name), TRUNCATE [TABLE],
    RENAME TABLE a TO b[, ...] and ALTER TABLE t RENAME TO/AS t2.
    Multi-statement ``;``-separated scripts are split (quote-aware) and
    parsed per statement; unrelated statements parse to no ops (history-
    only entries)."""
    stmts = _split_top_level(sql, ";")
    if len(stmts) > 1:
        ops: list[DdlOp] = []
        for st in stmts:
            ops.extend(parse_ddl_sql(st))
        return ops
    s = stmts[0] if stmts else ""
    if not s:
        return []

    created = _parse_create_table(s)
    if created:
        return created
    m = re.match(
        rf"(?is)^DROP\s+(?:TEMPORARY\s+)?TABLE\s+(?:IF\s+EXISTS\s+)?(.+?)"
        rf"(?:\s+(?:RESTRICT|CASCADE))?\s*$",
        s,
    )
    if m:
        ops = []
        for name in m.group(1).split(","):
            m2 = re.match(rf"(?is)^\s*{_QTBL}\s*$", name)
            if m2:
                db, tbl = _qualified(m2.group(1), m2.group(2))
                ops.append(("drop_table", db, tbl))
        return ops
    m = re.match(rf"(?is)^TRUNCATE\s+(?:TABLE\s+)?{_QTBL}\s*$", s)
    if m:
        db, tbl = _qualified(m.group(1), m.group(2))
        return [("truncate_table", db, tbl)]
    # RENAME TABLE a TO b[, c TO d] (MySQL multi-rename statement)
    m = re.match(r"(?is)^RENAME\s+TABLE\s+(.+)$", s)
    if m:
        ops = []
        for pair in _split_top_level(m.group(1), ","):
            m2 = re.match(rf"(?is)^{_QTBL}\s+TO\s+{_QTBL}\s*$", pair.strip())
            if m2:
                odb, otbl = _qualified(m2.group(1), m2.group(2))
                ndb, ntbl = _qualified(m2.group(3), m2.group(4))
                ops.append(("rename_table", odb, otbl, ndb, ntbl))
        return ops

    m = re.match(rf"(?is)^ALTER\s+TABLE\s+(?:ONLY\s+)?{_QTBL_ANY}\s+(.*)$", s)
    if not m:
        return []
    hdr_db, hdr_tbl = _qualified_any(m.group(1))
    body = m.group(2)
    ops: list[DdlOp] = []
    for clause in _split_top_level(body, ","):
        c = clause.strip()
        kw = r"(?!(?:CONSTRAINT|INDEX|KEY|PRIMARY|UNIQUE|FOREIGN|FULLTEXT|SPATIAL|PARTITION|CHECK)\b)"
        # PK mutations parse EXPLICITLY (MySqlAntlrDdlParserTest's
        # ADD PRIMARY KEY / ADD CONSTRAINT ... PRIMARY KEY variants): a PK
        # change re-keys the table, which the apply path must either verify
        # as a no-op or reject loudly — silently skipping it (the old
        # "unrelated clause" fall-through) was the dangerous case.
        m2 = re.match(
            rf"(?is)^ADD\s+(?:CONSTRAINT\s+(?:{_IDENT}\s+)?)?PRIMARY\s+KEY\s*\(([^()]*)\)", c
        )
        if m2:
            ops.append(
                ("set_pk", [_unquote(p.strip()) for p in m2.group(2).split(",") if p.strip()])
            )
            continue
        if re.match(r"(?is)^DROP\s+PRIMARY\s+KEY\s*$", c):
            # keyless until a set_pk follows (MySQL requires DROP before
            # re-ADD); the apply path treats the pair as one mutation
            ops.append(("drop_pk",))
            continue
        if re.match(
            rf"(?is)^ADD\s+(?:CONSTRAINT\s+(?:{_IDENT}\s+)?)?"
            r"(?:FOREIGN\s+KEY|UNIQUE|CHECK)\b", c
        ):
            continue  # non-PK constraints don't change the lake schema
        m2 = re.match(rf"(?is)^ADD\s+(?:COLUMN\s+)?{kw}{_IDENT}\s+{_TYPE}", c)
        if m2:
            styp = _type_or_none(m2.group(2)) or "string"  # unmapped: as text
            ops.append(
                ("add", m2.group(1), styp,
                 _normalize_zero_date(
                     _extract_default(c[m2.end():]), styp, c))
            )
            pos = _extract_position(c[m2.end():])
            if pos is not None:  # ADD ... FIRST / AFTER col placement
                ops.append(("reorder", m2.group(1), pos[0]))
            continue
        m2 = re.match(r"(?is)^ADD\s*\((.*)\)\s*$", c)
        if m2:  # ADD (a INT, b TEXT)
            for sub in _split_top_level(m2.group(1), ","):
                sub = sub.strip()
                m3 = re.match(rf"(?is)^{_IDENT}\s+{_TYPE}", sub)
                if m3:
                    styp = _type_or_none(m3.group(2)) or "string"
                    ops.append(
                        ("add", m3.group(1), styp,
                         _normalize_zero_date(
                             _extract_default(sub[m3.end():]), styp, sub))
                    )
                    pos = _extract_position(sub[m3.end():])
                    if pos is not None:
                        ops.append(("reorder", m3.group(1), pos[0]))
            continue
        m2 = re.match(rf"(?is)^DROP\s+(?:COLUMN\s+)?{_IDENT}(?:\s+(?:RESTRICT|CASCADE))?\s*$", c)
        if m2:
            ops.append(("drop", m2.group(1)))
            continue
        m2 = re.match(rf"(?is)^RENAME\s+(?:TO|AS)\s+{_QTBL}\s*$", c)
        if m2:  # ALTER TABLE old RENAME TO new — a catalog mutation
            ndb, ntbl = _qualified(m2.group(1), m2.group(2))
            ops.append(("rename_table", hdr_db, hdr_tbl, ndb, ntbl))
            continue
        m2 = re.match(rf"(?is)^RENAME\s+(?:COLUMN\s+)?{_IDENT}\s+TO\s+{_IDENT}\s*$", c)
        if m2:
            ops.append(("rename", m2.group(1), m2.group(2)))
            continue
        m2 = re.match(rf"(?is)^CHANGE\s+(?:COLUMN\s+)?{_IDENT}\s+{_IDENT}\s+{_TYPE}", c)
        if m2:  # MySQL CHANGE: rename + retype in one clause
            old, new, t = m2.group(1), m2.group(2), _type_or_none(m2.group(3))
            if old != new:
                ops.append(("rename", old, new))
            if t is not None:  # unmapped retype: rename applies, retype is history-only
                ops.append(("widen", new, t))
            pos = _extract_position(c[m2.end():])
            if pos is not None:  # CHANGE ... FIRST / AFTER col placement
                ops.append(("reorder", new, pos[0]))
            continue
        m2 = re.match(rf"(?is)^MODIFY\s+(?:COLUMN\s+)?{_IDENT}\s+{_TYPE}", c)
        if m2:
            t = _type_or_none(m2.group(2))
            if t is not None:
                ops.append(("widen", m2.group(1), t))
            pos = _extract_position(c[m2.end():])
            if pos is not None:  # MODIFY ... FIRST / AFTER col placement
                ops.append(("reorder", m2.group(1), pos[0]))
            continue
        m2 = re.match(
            rf"(?is)^ALTER\s+(?:COLUMN\s+)?{_IDENT}\s+(?:SET\s+DATA\s+)?TYPE\s+{_TYPE}", c
        )
        if m2:
            t = _type_or_none(m2.group(2))
            if t is not None:
                ops.append(("widen", m2.group(1), t))
            continue
        # MySQL/PG ALTER [COLUMN] x SET DEFAULT <lit> / DROP DEFAULT —
        # mutates the column's CURRENT default (future writers), never its
        # initial/EXISTS default (already-written files keep their fill)
        m2 = re.match(rf"(?is)^ALTER\s+(?:COLUMN\s+)?{_IDENT}\s+SET\s+DEFAULT\s+(..*)$", c)
        if m2:
            lit = _extract_default("DEFAULT " + m2.group(2))
            if lit is None and m2.group(2).strip().rstrip(";").upper() != "NULL":
                # non-literal default (CURRENT_TIMESTAMP, expression):
                # history-only — emitting (set_default, col, None) would
                # execute SET as its opposite (DROP), erasing a recorded
                # literal default (review r4 finding)
                continue
            ops.append(("set_default", m2.group(1), lit))
            continue
        m2 = re.match(rf"(?is)^ALTER\s+(?:COLUMN\s+)?{_IDENT}\s+DROP\s+DEFAULT\s*$", c)
        if m2:
            ops.append(("set_default", m2.group(1), None))
            continue
        # unrelated clause (constraints, defaults, indexes): history-only
    return ops


def parse_ddl(text: str) -> list[DdlOp]:
    """Dispatch: TableChanges JSON (starts with '{') or raw SQL text."""
    if text is None:
        return []
    if text.lstrip().startswith("{"):
        return parse_table_changes(text)
    return parse_ddl_sql(text)


def resolve_default_marker(default: str | None, ts_ms: int | None) -> str | None:
    """Resolve ``CURRENT_TS_MARKER`` to a timestamp literal pinned at the
    DDL barrier's own ``ts_ms`` (UTC, explicit ``+00:00`` offset so the
    literal is session-timezone-independent) — deterministic and
    replay-stable: every replay of the same barrier fills pre-ADD rows with
    the same instant. Without a barrier timestamp (programmatic callers)
    the marker degrades to no-default (null + history), the pre-r5
    behavior. Plain literals pass through."""
    if default != CURRENT_TS_MARKER:
        return default
    if ts_ms is None:
        return None
    from datetime import datetime, timezone

    dt = datetime.fromtimestamp(ts_ms / 1000, tz=timezone.utc)
    return (
        f"TIMESTAMP '{dt.strftime('%Y-%m-%d %H:%M:%S')}.{ts_ms % 1000:03d}+00:00'"
    )


def apply_schema_op(table: LakeTable, op) -> bool:
    """THE schema-op applier: live ``apply_ddl`` and restart recovery
    (``replay_schema_history``) apply every column op through it. Each
    alter is idempotent, so replaying an applied op is a no-op.

    Returns False for an op that stays history-only: a ``set_default``
    still holding ``CURRENT_TS_MARKER`` (no barrier ``ts_ms`` resolved it)
    must never reach field metadata — as CURRENT_DEFAULT it would re-emit
    the NUL sentinel through the schema-changes signal (review r5).
    ValueErrors from the alters' guards propagate; each caller decides
    what a raise means. ``drop_pk`` (paired with a following ``set_pk``,
    MySQL drop-then-re-add; alone the capture key stays in force) and the
    table-level ops are history-only here."""
    kind = op[0]
    if kind == "add":
        # 3-element ops come from pre-default ledgers; the 4th element is
        # the DEFAULT literal (Iceberg initial-default: pre-ADD files
        # surface it instead of null)
        table.alter_add_columns([tuple(op[1:4])])
    elif kind == "drop":
        table.alter_drop_columns([op[1]])
    elif kind == "rename":
        table.alter_rename_column(op[1], op[2])
    elif kind == "widen":
        table.alter_widen_column(op[1], op[2])
    elif kind == "reorder":
        table.alter_reorder_column(op[1], op[2])
    elif kind == "set_default":
        if op[2] == CURRENT_TS_MARKER:
            return False
        table.alter_set_default(op[1], op[2])
    elif kind == "set_pk" and sorted(op[1]) != sorted(table.key_cols):
        # a PK equal to the capture key is the idempotent replay /
        # re-add-after-drop case; anything else is a RE-KEY, which cannot
        # apply to a bucketed-by-key lake table without a full rewrite —
        # fail loudly (a silent no-op would keep merging on a stale key)
        raise ValueError(
            f"DDL changes the primary key to {op[1]} but the table "
            f"is keyed/bucketed by {table.key_cols}; re-keying "
            "requires a full table rebuild (create a new capture)"
        )
    return True


def apply_ddl(
    table: LakeTable,
    text: str,
    offset: tuple[str, int],
    ts_ms: int | None = None,
) -> None:
    """Apply one DDL (either form) to the target and append the history
    ledger row (offset_file, offset_pos, ops, raw) — FIXTURES.md F5.

    This is the live POLICY around ``apply_schema_op``: it decides what
    each parsed op becomes, applies it, and records the ops that took
    effect, so ``replay_schema_history`` replays exactly them.

    - Exact-replay guard: a ledger entry at this offset with this raw text
      (or a checkpoint at or past it) means the WHOLE op list already
      applied — the ledger appends last — so skip. Individually idempotent
      alters are not enough for SELF-UNDOING sequences ('ADD c; DROP c',
      'RENAME a TO b; RENAME b TO c'): re-running the first op hits the
      burned-name / missing-column guards and a crash-resume would wedge
      in a permanent ValueError loop.
    - ``CURRENT_TS_MARKER`` defaults resolve to the barrier's ``ts_ms``
      (``resolve_default_marker``); SET DEFAULT also takes the zero-date
      rule from the column's current type (lake columns are nullable, so
      SET DEFAULT '0000-00-00' on a temporal column means DROP DEFAULT).
    - Degrade instead of raising before the ledger write (ADVICE r4: a
      raise there crash-loops the stream forever on one DDL event): an
      ADD whose literal fails Spark evaluation adds the column without a
      default; an incompatible widen or an unplaceable reorder stays
      history-only. Structural errors (burned name, re-key) still raise.

    The ledger records the RESOLVED/degraded ops, so recovery converges to
    the identical schema without needing ``ts_ms`` again."""
    cp, history = schema_history_split(table)
    if cp is not None and offset_key(offset[0], offset[1]) <= offset_key(
        cp["offset_file"], cp["offset_pos"]
    ):
        # the barrier predates the last ledger compaction — its entry was
        # folded into the checkpoint, so it is already fully applied. The
        # comparison is file-major via offset_key, the SAME ordering every
        # fence uses (schema.py offset-order contract) — and null-file
        # tolerant, so a poison offset degrades instead of raising here,
        # before the ledger write (the crash-loop class ADVICE r4 bans)
        return
    for entry in history:
        if (
            entry.get("offset_file") == offset[0]
            and entry.get("offset_pos") == offset[1]
            and entry.get("raw") == text
        ):
            return  # already fully applied + ledgered
    applied: list[DdlOp] = []
    for op in parse_ddl(text):
        if op[0] == "add":
            op = (*op[:3], resolve_default_marker(op[3] if len(op) > 3 else None, ts_ms))
        elif op[0] == "set_default" and (op[2] != CURRENT_TS_MARKER or ts_ms is not None):
            try:
                styp = table.schema()[op[1]].dataType.simpleString()
            except KeyError:
                styp = "string"
            op = (*op[:2], _zero_date_rule(
                resolve_default_marker(op[2], ts_ms), styp, not_null=False))
        try:
            if not apply_schema_op(table, op):
                continue
        except DefaultEvaluationError:
            op = (*op[:3], None)
            apply_schema_op(table, op)
        except ValueError:
            if op[0] not in ("widen", "reorder"):
                raise
            continue  # raw text still ledgers below; the op itself does not
        applied.append(op)
    ledger_append(_history_path(table), {
        "offset_file": offset[0],
        "offset_pos": offset[1],
        "ops": [list(o) for o in applied],
        "raw": text,
        "schema_version": table.manifest()["version"],
    })


def replay_schema_history(table: LakeTable) -> int:
    """Restart recovery of the schema-history ledger: replay every
    recorded op through ``apply_schema_op`` — the applier live DDL uses —
    and return the number of entries replayed. The ledger itself is not
    re-appended (``CdcEngine.recover_schema``).

    Replay tolerance: every recorded op applied once live, so a ValueError
    here can only mean the table already carries the op's effect in a
    later-evolved form (replaying ``add x`` after ``x`` was renamed hits
    the burned-name guard; the first hop of a rename chain ``a→b→c`` finds
    neither name) — the op is skipped and recovery converges.

    A compacted ledger starts from its checkpoint's schema state: restore
    and tail replay compose in a SCRATCH manifest dir, and the final state
    publishes to the live table in ONE ``restore_schema`` call (review r5:
    restoring the live table first opened a crash window in which a
    current table reverted to the checkpoint state for good, because
    ``apply_ddl``'s exact-replay guard skips redelivered barriers).
    ``restore_schema`` no-ops when the state already matches."""
    import shutil
    import tempfile

    from pyspark.sql.types import StructType

    cp, entries = schema_history_split(table)

    def replay(t: LakeTable) -> None:
        for e in entries:
            for op in e["ops"]:
                try:
                    apply_schema_op(t, op)
                except ValueError:
                    continue

    if cp is None:
        # per-op onto the live table: each alter no-ops when applied, so
        # there is no transient revert and no crash window on this path
        replay(table)
        return len(entries)
    scratch_dir = tempfile.mkdtemp(prefix="recover_schema_")
    try:
        scratch = LakeTable(
            table.spark, scratch_dir, list(table.key_cols),
            n_buckets=table.n_buckets, mode=table.mode,
        )
        scratch.create(StructType.fromJson(json.loads(cp["schema"])))
        scratch.restore_schema(
            cp["schema"], renames=cp.get("renames"), dropped=cp.get("dropped")
        )
        replay(scratch)
        man = scratch.manifest()
    finally:
        shutil.rmtree(scratch_dir, ignore_errors=True)
    table.restore_schema(
        man["schema"], renames=man.get("renames", {}), dropped=man.get("dropped", [])
    )
    return len(entries)


# ---- the JSONL ledger format of both control ledgers (this module's
# ---- per-table ``_schema_history.jsonl`` and MultiTableEngine's
# ---- ``_catalog.jsonl``): append-only entry lines, optionally preceded
# ---- by ONE checkpoint line (``"checkpoint": true``) that a fold wrote


def ledger_read(path: str) -> tuple[dict | None, list[dict]]:
    """ONE read of a ledger → ``(checkpoint-or-None, entries after it)``."""
    cp, entries = None, []
    if os.path.exists(path):
        with open(path) as f:
            for line in f:
                if line.strip():
                    e = json.loads(line)
                    if "checkpoint" in e:
                        cp = e
                    else:
                        entries.append(e)
    return cp, entries


def ledger_append(path: str, entry: dict) -> None:
    """Append one entry line to a ledger."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "a") as f:
        f.write(json.dumps(entry) + "\n")


def ledger_fold(path: str, prev: dict | None, entries: list[dict], state: dict) -> int:
    """Checkpoint-and-truncate: atomically rewrite the ledger as ONE
    checkpoint line carrying ``state`` and the running ``folded`` count.
    The rewrite goes through a temp file + ``os.replace``, so a crash
    mid-fold leaves the previous ledger intact. Returns the number of
    entries folded."""
    cp = {"checkpoint": True, **state,
          "folded": len(entries) + (prev.get("folded", 0) if prev else 0)}
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write(json.dumps(cp) + "\n")
    os.replace(tmp, path)
    return len(entries)


def _history_path(table: LakeTable) -> str:
    return os.path.join(table.root, "_schema_history.jsonl")


def schema_history(table: LakeTable) -> list[dict]:
    """The table's DDL op entries, in apply order — entries folded into a
    checkpoint (see ``compact_schema_history``) are gone; use
    ``schema_history_checkpoint`` for the folded state."""
    return schema_history_split(table)[1]


def schema_history_checkpoint(table: LakeTable) -> dict | None:
    """The ledger's checkpoint line, or None for a never-compacted ledger:
    ``{"checkpoint": True, "offset_file", "offset_pos", "schema",
    "renames", "dropped", "schema_version", "folded"}`` — the complete
    schema state at the fold fence."""
    return schema_history_split(table)[0]


def schema_history_split(table: LakeTable) -> tuple[dict | None, list[dict]]:
    """ONE ledger read → ``(checkpoint-or-None, post-checkpoint entries)``.
    The per-batch serial path (``apply_ddl`` fence + idempotency scan,
    compaction trigger, recovery) shares this single read (review r5:
    up to five full reads per barrier-carrying batch)."""
    return ledger_read(_history_path(table))


def compact_schema_history(table: LakeTable, min_entries: int = 0) -> int:
    """Checkpoint-and-truncate the schema-history ledger (VERDICT r4 #1;
    reference analog: the breakpoint ledger expires applied offsets,
    ``connector/breakpoint/BreakPointRecord.java:116`` ``toDeleteOffsets``).

    Folds every current entry into ONE checkpoint line (``ledger_fold``)
    carrying the table's full schema state (schema JSON + rename ledger +
    burned names + manifest version) at the max folded offset. Restart
    replay and the ``apply_ddl`` idempotency scan both become
    O(entries-since-last-compaction) instead of O(stream lifetime).
    Returns the number of entries folded (0 = ledger untouched).

    ``min_entries``: fold only when MORE than this many entries exist —
    lets the engine's per-batch trigger share this function's single
    ledger read."""
    prev, entries = schema_history_split(table)
    if len(entries) <= min_entries:
        return 0
    # fold to the MAX offset, file-major via offset_key (null-file
    # tolerant), never below the previous checkpoint — entries append in
    # apply order, and an out-of-order ledger (multi-file streams) must
    # never fence out a not-yet-applied barrier
    fold_file, fold_pos = max(
        ((e["offset_file"], e["offset_pos"]) for e in ([prev] if prev else []) + entries),
        key=lambda fp: offset_key(*fp),
    )
    man = table.manifest()
    return ledger_fold(_history_path(table), prev, entries, {
        "offset_file": fold_file,
        "offset_pos": fold_pos,
        "schema": man["schema"],
        "renames": man.get("renames", {}),
        "dropped": man.get("dropped", []),
        "schema_version": man["version"],
    })
