"""Envelope schema — the central record type of the engine.

Re-creates the shape of Debezium's change-event envelope
(``debezium-core/src/main/java/io/debezium/data/Envelope.java:103-157`` in
the reference: fields before/after/op/source/transaction/ts_ms, built at
``Envelope.java:243-302``) as a fixed Spark ``StructType`` parameterized by
the payload schema.

Operation codes (``Envelope.java:34-98``):
  r=READ(snapshot) c=CREATE u=UPDATE d=DELETE t=TRUNCATE, plus the
  openGauss-fork 'l' (DDL) used for structured schema-change events.
"""

from __future__ import annotations

from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

# Operation codes — Envelope.java:34-98
OP_READ = "r"
OP_CREATE = "c"
OP_UPDATE = "u"
OP_DELETE = "d"
OP_TRUNCATE = "t"
OP_DDL = "l"  # openGauss-fork addition (Envelope.java:76, 'l' DDL)
# remaining fork additions (Envelope.java:34-98)
OP_TRUNCATE_CASCADE = "tc"  # truncate + cascade: same barrier as 't'
OP_PATH = "p"               # CSV-slice pointer (full migration transport)
OP_MESSAGE = "m"            # logical-decoding message (payload-free)
OP_CREATE_INDEX = "i"       # index DDL: no lake-schema effect
OP_TABLE_SNAPSHOT = "ts"    # table-snapshot marker

#: payload-free control rows: consume their offsets (fence advances past
#: them) but carry no row data — excluded from the merge, never quarantined.
#: OP_PATH is NOT here: it is a barrier (its slice set loads at its stream
#: position — BARRIER_OPS below).
CONTROL_OPS = [OP_MESSAGE, OP_CREATE_INDEX, OP_TABLE_SNAPSHOT]

#: batch-splitting barrier rows: DDL + truncate (+ the fork's cascade form)
#: + PATH slice pointers (a snapshot slice loads AT its stream position —
#: events after it overwrite, events before merged under pre-slice state)
BARRIER_OPS = [OP_DDL, OP_TRUNCATE, OP_TRUNCATE_CASCADE, OP_PATH]

# The north-star payload: a row of the source-code-repository table
# (BASELINE.json input_hint). Primary key = (repo, path).
REPO_PAYLOAD_SCHEMA = StructType(
    [
        StructField("repo", StringType(), True),
        StructField("path", StringType(), True),
        StructField("commit", StringType(), True),
        StructField("lang", StringType(), True),
        StructField("content", StringType(), True),
    ]
)
REPO_KEY_COLS = ["repo", "path"]

# source block — mirrors the offset-bearing fields Debezium stores per event
# (MySqlOffsetContext keys file/pos/gtid; AbstractSourceInfo db/table/ts_ms).
#
# OFFSET-ORDER CONTRACT: ``(file, pos)`` lexicographically increasing defines
# the total replay order, with ``pos`` monotone ACROSS files within a stream
# (LSN / global-index semantics — openGauss & PG LSNs and the bundled
# generator/wire sources are exactly this; ``file`` is a rotation label that
# never decreases and ``pos`` never resets). Under this contract pos-order
# and (file, pos)-order agree, so the data plane (dedupe max_by, MoR delta
# resolution, intra-batch barrier segmentation) orders by the cheap long
# ``pos`` while every control-plane fence/skip/replay comparison uses the
# explicit file-major ``offset_key`` below. A source with per-file positions
# (raw MySQL binlog offsets) must map them to a stream-monotone pos first,
# e.g. ``(file_seq << 40) | pos`` — the same flattening its GTID stream
# already provides.
SOURCE_SCHEMA = StructType(
    [
        StructField("file", StringType(), False),
        StructField("pos", LongType(), False),
        StructField("gtid", StringType(), True),
        StructField("snapshot", StringType(), True),
        StructField("db", StringType(), True),
        StructField("table", StringType(), True),
        StructField("ts_ms", LongType(), True),
    ]
)

def offset_key(file: str | None, pos: int) -> tuple[str, int]:
    """Sortable control-plane key for a source offset: file-major per the
    offset-order contract above. A null/missing file sorts FIRST (empty
    string) so a poison offset can never raise from inside a fence
    comparison — the quarantine path, not the fence, owns malformed rows.
    Every fence/skip/replay-order comparison in the engine goes through
    this one key so the ordering can never drift between subsystems."""
    return (file or "", pos)


# transaction block — TransactionMonitor.java:59-63
TRANSACTION_SCHEMA = StructType(
    [
        StructField("id", StringType(), True),
        StructField("total_order", LongType(), True),
        StructField("data_collection_order", LongType(), True),
    ]
)


def envelope_schema(payload: StructType = REPO_PAYLOAD_SCHEMA) -> StructType:
    """Envelope StructType for a given payload schema (Envelope.java:243-302)."""
    return StructType(
        [
            StructField("before", payload, True),
            StructField("after", payload, True),
            StructField("op", StringType(), False),
            StructField("ts_ms", LongType(), True),
            StructField("source", SOURCE_SCHEMA, False),
            StructField("transaction", TRANSACTION_SCHEMA, True),
        ]
    )


def payload_cols(payload: StructType = REPO_PAYLOAD_SCHEMA) -> list[str]:
    return [f.name for f in payload.fields]
